"""Warm-run plan reuse: a repeated run reads each table once, plans it
with its known schema (no inference job), recompiles almost nothing,
and frames shared between tasks (or between both sides of one task)
give the same verdicts as separate reads.

Also the partitioned-mode release of the cached joined profile when
constraint and freshness checks are folded into it.
"""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from datapact_spark import engine as engine_module
from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.ledger import CheckpointStore
from datapact_spark.sources import loader
from datapact_spark.sources.loader import TableResolver, read_parquet

# generated classes compiled by the second run of REUSE_TASKS. Without
# plan reuse it recompiles nearly everything (~125 at sf0.001); what
# stays (~13) is the exec tables, whose generated_at is a per-run
# timestamp literal, and limit operators, whose generated counter name
# is numbered per plan.
MAX_WARM_COMPILES = 30

# py4j round trips the compiling thread makes to compile REUSE_TASKS once
# more on a warm session. With PySpark's per-call DataFrame call-site
# capture on, every Column and DataFrame call adds several; with it off
# (session.py) ~2.1k remained while check formulas and payloads were
# Column trees. Rendered as SQL text (functions/exprs.py) they cost a
# few calls per task; ~870 remain, nearly all in the metric relations.
MAX_COMPILE_GATEWAY_CALLS = 1000

REUSE_TASKS = [
    # no freshness check: its reference instant is a per-run literal
    {"task_key": "li_count_schema", "source": "lineitem", "target": "lineitem",
     "count_tolerance": 0.0, "schema_check": True},
    {"task_key": "orders_hash_nulls", "source": "orders", "target": "orders",
     "primary_keys": ["o_orderkey"], "pk_row_hash_check": True, "pk_hash_tolerance": 0.0,
     "null_validation_columns": ["o_custkey"], "null_validation_tolerance": 0.0},
    {"task_key": "orders_uniq_agg", "source": "orders", "target": "orders",
     "uniqueness_columns": ["o_orderkey"], "uniqueness_tolerance": 0.0,
     "agg_validations": [{"column": "o_totalprice", "validations": [{"agg": "SUM", "tolerance": 0.0}]}],
     "constraint_checks": [{"name": "positive_price", "predicate": "o_totalprice > 0"}]},
    {"task_key": "orders_fk", "source": "orders", "target": "orders",
     "referential_checks": [{"name": "fk_customer", "fk_columns": ["o_custkey"],
                             "ref_table": "customer", "ref_columns": ["c_custkey"],
                             "strategy": "broadcast"}]},
    {"task_key": "customer_sql", "source": "customer", "target": "customer",
     "custom_sql_tests": [{"name": "per_nation",
                           "sql": "SELECT c_nationkey, COUNT(*) AS n FROM {{ table_fqn }} GROUP BY c_nationkey"}]},
]


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture()
def parquet_reads(monkeypatch):
    """Every path handed to ``spark.read.parquet``, in call order."""
    reads: list[str] = []
    orig = DataFrameReader.parquet

    def counting(self, *paths, **options):
        reads.extend(paths)
        return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    return reads


def test_warm_run_reuses_plans_and_reads_each_table_once(spark, sf_dir, tmp_path, parquet_reads):
    engine = DataPactEngine(
        spark, TableResolver(spark, base_dir=sf_dir), results_path=str(tmp_path / "res")
    )
    config = DataPactConfig(validations=REUSE_TASKS, max_parallel_tasks=4)
    first = engine.run(config, run_id=1)

    del parquet_reads[:]
    before = _compiles(spark)
    second = engine.run(config, run_id=2)
    warm_compiles = _compiles(spark) - before

    assert {k: o.status for k, o in second.outcomes.items()} == {
        k: o.status for k, o in first.outcomes.items()
    }
    assert all(o.status == "SUCCESS" for o in second.outcomes.values())
    assert warm_compiles < MAX_WARM_COMPILES, warm_compiles
    # one read per distinct ref; the exec tables come from the in-memory
    # ledger rows, not a read of run_history
    refs = {"lineitem", "orders", "customer"}
    assert sorted(parquet_reads) == sorted(
        os.path.join(sf_dir, f"{r}.parquet") for r in refs
    )


def test_compile_gateway_traffic_is_bounded(spark, sf_dir, monkeypatch):
    from datapact_spark.plans.compiler import compile_task

    resolver = TableResolver(spark, base_dir=sf_dir).scoped()
    tasks = [ValidationTask(**t) for t in REUSE_TASKS]
    for task in tasks:  # warm: reads memoized, classes loaded
        compile_task(spark, task, resolver)

    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    orig = client.send_command
    # other driver threads talk to the JVM too; count this thread's calls
    me = threading.get_ident()

    def counting(*args, **kwargs):
        calls[0] += threading.get_ident() == me
        return orig(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    for task in tasks:
        compile_task(spark, task, resolver)
    monkeypatch.undo()
    assert calls[0] < MAX_COMPILE_GATEWAY_CALLS, calls[0]


# quote, backslash, double quote, newline and a substitution variable:
# what SQL text could mangle (Spark's parser substitutes ${...} even
# inside string literals)
AWKWARD = "it's \\ \"odd\"\n${spark.sql.shuffle.partitions}"


def test_payload_keeps_user_strings_exact(spark, sf_dir, tmp_path):
    """User strings reach the payload as written: the filter, a custom-SQL
    test's name (its validator admits only the newline of these),
    description and SQL, and a constraint predicate."""
    sql_literal = AWKWARD.replace("\\", "\\\\").replace("'", "\\'").replace("\n", " ")
    flt = f"o_orderpriority <> '{sql_literal}'\nOR o_orderpriority IS NULL"
    sql = (f"SELECT o_orderstatus, COUNT(*) AS n, '{sql_literal}' AS tag\n"
           "FROM {{ table_fqn }} GROUP BY o_orderstatus")
    predicate = f"o_totalprice > 0\nOR o_orderpriority = '{sql_literal}'"
    outcome, _ = _run_one(
        spark, sf_dir, tmp_path, source="orders", target="orders", filter=flt,
        custom_sql_tests=[{"name": "status\ntotals", "description": AWKWARD, "sql": sql}],
        constraint_checks=[{"name": "priced", "predicate": predicate}],
    )
    assert outcome.status == "SUCCESS", outcome.error or outcome.payload
    p = json.loads(outcome.payload)
    assert p["applied_filter"] == flt
    custom = p["custom_sql_validation_status_totals"]
    assert (custom["name"], custom["description"], custom["input_sql_template"]) == (
        "status\ntotals", AWKWARD, sql)
    assert custom["rendered_source_sql"].startswith(sql.split("{{")[0])
    assert p["constraint_validation_priced_source"]["predicate"] == predicate


def test_ledger_row_metadata_attached_on_driver(spark, sf_dir, tmp_path):
    engine = DataPactEngine(
        spark, TableResolver(spark, base_dir=sf_dir), results_path=str(tmp_path / "res")
    )
    task = ValidationTask(
        task_key="meta", source="main.sales.orders", target="orders",
        count_tolerance=0.0, business_domain="Sales", expected_sla_hours=4,
        estimated_impact_usd=12.5,
    )
    engine.resolver.register("main.sales.orders", os.path.join(sf_dir, "orders.parquet"))
    engine.run(DataPactConfig(validations=[task]), job_name="meta_job", run_id=5)
    (row,) = engine.ledger.run_results(5).collect()
    assert row["status"] == "SUCCESS"
    assert (row["job_id"], row["job_name"]) == (5, "meta_job")
    assert (row["source_catalog"], row["source_schema"], row["source_table"]) == (
        "main", "sales", "orders"
    )
    assert (row["target_catalog"], row["target_table"]) == ("", "orders")
    assert (row["business_domain"], row["expected_sla_hours"]) == ("Sales", 4.0)
    assert row["estimated_impact_usd"] == 12.5
    assert row["job_start_ts"] <= row["validation_begin_ts"] <= row["validation_complete_ts"]


# ------------------------------------------------------ shared frames
def _run_one(spark, base_dir, tmp_path, **task):
    engine = DataPactEngine(
        spark, TableResolver(spark, base_dir=base_dir), results_path=str(tmp_path / "res")
    )
    res = engine.run(DataPactConfig(validations=[ValidationTask(task_key="t", **task)]))
    return res.outcomes["t"], engine


def test_source_equals_target_row_hash_and_uniqueness(spark, sf_dir, tmp_path):
    """Both sides resolve to the one DataFrame of the run: the PK self-join
    and the per-side uniqueness must still see two independent sides."""
    outcome, engine = _run_one(
        spark, sf_dir, tmp_path, source="orders", target="orders",
        primary_keys=["o_orderkey"], pk_row_hash_check=True, pk_hash_tolerance=0.0,
        uniqueness_columns=["o_orderkey"], uniqueness_tolerance=0.0,
        null_validation_columns=["o_orderstatus"], null_validation_tolerance=0.0,
        filter="o_orderkey % 3 <> 0", materialize_violations=True,
    )
    assert outcome.status == "SUCCESS", outcome.error or outcome.payload
    p = json.loads(outcome.payload)
    n = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        "o_orderkey % 3 <> 0").count()
    assert p["row_hash_validation"]["compared_rows"] == f"{n:,}"
    assert p["row_hash_validation"]["mismatch_count"] == "0"
    assert p["uniqueness_validation_o_orderkey"]["source_duplicates"] == "0"
    assert p["uniqueness_validation_o_orderkey"]["target_duplicates"] == "0"
    violations = os.path.join(engine.ledger.path, "violations")
    assert spark.read.parquet(os.path.join(violations, "*", "t", "row_hash")).count() == 0


def test_source_equals_target_duplicate_keys_fail_as_before(spark, tmp_path):
    """A table with duplicate keys compared with itself: the join fans out
    identically on both sides and uniqueness counts the same duplicates
    on each side, as when each side was read separately."""
    base = tmp_path / "data"
    rows = [(1, "a"), (1, "b"), (2, "c"), (3, "d")]
    spark.createDataFrame(rows, "k int, v string").coalesce(1).write.parquet(
        str(base / "dup.parquet"))
    outcome, _ = _run_one(
        spark, str(base), tmp_path, source="dup", target="dup",
        primary_keys=["k"], pk_row_hash_check=True, pk_hash_tolerance=0.0,
        uniqueness_columns=["k"], uniqueness_tolerance=0.0,
    )
    p = json.loads(outcome.payload)
    assert outcome.status == "FAILURE"
    # k=1 pairs (a,a) (a,b) (b,a) (b,b): two of the four mismatch
    assert p["row_hash_validation"]["compared_rows"] == "6"
    assert p["row_hash_validation"]["mismatch_count"] == "2"
    assert p["uniqueness_validation_k"]["source_duplicates"] == "1"
    assert p["uniqueness_validation_k"]["target_duplicates"] == "1"


def test_self_referential_foreign_key(spark, tmp_path):
    """ref_table == source: child and parent are the same frame."""
    base = tmp_path / "data"
    # 5 and 7 report to managers that do not exist; 1 has no manager
    rows = [(1, None), (2, 1), (3, 1), (4, 2), (5, 99), (6, 3), (7, 98)]
    spark.createDataFrame(rows, "id int, manager_id int").coalesce(1).write.parquet(
        str(base / "emp.parquet"))
    for strategy in ("broadcast", "shuffle"):
        outcome, _ = _run_one(
            spark, str(base), tmp_path / strategy, source="emp", target="emp",
            count_tolerance=0.0, materialize_violations=True,
            referential_checks=[{
                "name": "mgr", "fk_columns": ["manager_id"], "ref_table": "emp",
                "ref_columns": ["id"], "strategy": strategy, "tolerance": 0.0,
            }],
        )
        p = json.loads(outcome.payload)
        assert outcome.status == "FAILURE", strategy
        assert p["count_validation"]["status"] == "PASS"
        assert p["referential_validation_mgr"]["violation_rows"] == "2", strategy
        assert p["referential_validation_mgr"]["child_rows"] == "7", strategy


def test_next_run_sees_rewritten_input(spark, tmp_path):
    """The per-run read is not kept across runs: rewriting a table's
    files between two runs on one engine changes the second verdict, and
    a rewrite that adds a column is planned with the new schema."""
    base = tmp_path / "data"
    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    src.coalesce(1).write.parquet(str(base / "a.parquet"))
    src.coalesce(1).write.parquet(str(base / "b.parquet"))
    engine = DataPactEngine(
        spark, TableResolver(spark, base_dir=str(base)), results_path=str(tmp_path / "res")
    )
    config = DataPactConfig(validations=[ValidationTask(
        task_key="t", source="a", target="b", primary_keys=["k"], count_tolerance=0.0,
        pk_row_hash_check=True, pk_hash_tolerance=0.0, schema_check={"mode": "exact"},
    )])
    assert engine.run(config, run_id=1).passed
    src.where("k < 90").withColumn("v", F.col("v") + F.when(F.col("k") == 0, 1).otherwise(0)) \
        .coalesce(1).write.mode("overwrite").parquet(str(base / "b.parquet"))
    second = engine.run(config, run_id=2)
    p = json.loads(second.outcomes["t"].payload)
    assert not second.passed
    assert p["count_validation"]["target_count"] == "90"
    assert p["row_hash_validation"]["mismatch_count"] == "1"
    assert p["schema_validation"]["status"] == "PASS"

    src.withColumn("extra", F.lit("x")).coalesce(1).write.mode("overwrite").parquet(
        str(base / "b.parquet"))
    third = engine.run(config, run_id=3)
    p = json.loads(third.outcomes["t"].payload)
    assert p["schema_validation"]["status"] == "FAIL"
    assert p["schema_validation"]["extra_in_target"] == "extra"
    assert p["count_validation"]["status"] == "PASS"


# ------------------------------------------------ known-schema reads
def _tag_jobs(monkeypatch, spark, owner, name: str, group) -> None:
    """Run ``owner.name`` under Spark job group ``group(args)``."""
    sc = spark.sparkContext
    orig = getattr(owner, name)

    def tagged(*args, **kwargs):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group(args), "tagged")
        try:
            return orig(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(owner, name, tagged)


def _jobs(spark, group: str) -> int:
    """Jobs submitted under ``group``, from the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _memo(tmp_path) -> set[str]:
    return {p for p in loader._SCHEMAS if p.startswith(str(tmp_path))}


def test_warm_compile_and_checkpoint_read_back_launch_no_job(spark, sf_dir, tmp_path, monkeypatch):
    """Fails without known-schema reads: every compile inferred its
    tables' schemas (one job each) and the checkpoint read-back inferred
    the verdicts' schema."""
    engine = DataPactEngine(
        spark, TableResolver(spark, base_dir=sf_dir), results_path=str(tmp_path / "res")
    )
    config = DataPactConfig(validations=[
        ValidationTask(
            task_key="drift_snapshot", source="orders", target="orders",
            drift_checks=[{"column": "o_totalprice", "metric": "psi", "baseline": "snapshot"}],
        ),
        ValidationTask(
            task_key="by_status", source="orders", target="orders",
            partition_by=["o_orderstatus"], count_tolerance=0.0,
            null_validation_columns=["o_custkey"], null_validation_tolerance=0.0,
        ),
    ], max_parallel_tasks=1)
    first = engine.run(config, run_id=1)  # bootstraps the drift baseline
    run = [1]
    _tag_jobs(monkeypatch, spark, engine_module, "compile_task",
              lambda args: f"compile_{run[0]}_{args[1].task_key}")
    _tag_jobs(monkeypatch, spark, CheckpointStore, "read_verdicts",
              lambda args: f"read_back_{run[0]}")
    run[0] = 2
    second = engine.run(config, run_id=2)
    assert {k: o.status for k, o in second.outcomes.items()} == {
        k: o.status for k, o in first.outcomes.items()
    } == {"drift_snapshot": "SUCCESS", "by_status": "SUCCESS"}
    for task in config.validations:
        assert _jobs(spark, f"compile_2_{task.task_key}") == 0, task.task_key
    assert _jobs(spark, "read_back_2") == 0


def test_stream_batches_read_static_target_with_known_schema(spark, tmp_path, monkeypatch):
    """Micro-batch 0 infers the static target's schema; later batches
    plan it with the memoized one."""
    from datapact_spark.streaming import incremental
    from datapact_spark.streaming.incremental import validate_stream

    src_dir = str(tmp_path / "incoming")
    ref = spark.range(30).select(F.col("id"), (F.col("id") * 0.5).alias("v"))
    ref.coalesce(1).write.parquet(str(tmp_path / "ref.parquet"))
    for lo in (0, 10, 20):
        ref.where(f"id >= {lo} AND id < {lo + 10}").coalesce(1).write.mode("append").parquet(src_dir)
    resolver = TableResolver(spark)
    resolver.register("reference", str(tmp_path / "ref.parquet"))
    task = ValidationTask(task_key="stream_known", source="incoming", target="reference",
                          count_tolerance=1.0)
    batches = []

    def group(args):
        batches.append(len(batches))
        return f"stream_compile_{batches[-1]}"

    _tag_jobs(monkeypatch, spark, incremental, "compile_task", group)
    stream = spark.readStream.schema("id long, v double").option(
        "maxFilesPerTrigger", "1").parquet(src_dir)
    q = validate_stream(
        spark, task, resolver, stream, results_path=str(tmp_path / "results"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert batches == [0, 1, 2]
    assert _jobs(spark, "stream_compile_0") >= 1  # the inference job
    assert [_jobs(spark, f"stream_compile_{b}") for b in (1, 2)] == [0, 0]


def test_unlistable_path_is_inferred_on_every_read(spark, tmp_path):
    """A path this process cannot list (here a ``file:`` URI) has no
    listing signature to validate a memoized schema: it is inferred on
    every read and never memoized. A listable one is inferred once."""
    path = str(tmp_path / "t.parquet")
    spark.range(5).coalesce(1).write.parquet(path)
    reads = iter(range(4))
    counts = {}
    for ref in ("file://" + path, path):
        for i in range(2):
            group = f"read_{next(reads)}"
            spark.sparkContext.setJobGroup(group, "read")
            try:
                read_parquet(spark, ref)
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            counts[(ref, i)] = _jobs(spark, group)
    uri = "file://" + path
    assert counts[(uri, 0)] >= 1 and counts[(uri, 1)] >= 1
    assert counts[(path, 0)] >= 1 and counts[(path, 1)] == 0
    assert _memo(tmp_path) == {path}


def test_schema_memo_holds_one_entry_per_durable_path(spark, tmp_path):
    """Warm runs of a partitioned task that checkpoints its verdicts,
    writes violations and compares a drift snapshot add no entry for a
    run-scoped path: the memo keeps the two inputs and the baseline."""
    base = tmp_path / "data"
    rows = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v"))
    rows.coalesce(1).write.parquet(str(base / "src.parquet"))
    rows.where("k <> 7").coalesce(1).write.parquet(str(base / "tgt.parquet"))
    res = tmp_path / "res"
    engine = DataPactEngine(spark, TableResolver(spark, base_dir=str(base)), results_path=str(res))
    config = DataPactConfig(validations=[ValidationTask(
        task_key="grouped", source="src", target="tgt", primary_keys=["k"],
        partition_by=["g"], count_tolerance=0.0, pk_row_hash_check=True,
        uniqueness_columns=["k"], uniqueness_tolerance=0.0, materialize_violations=True,
        drift_checks=[{"column": "v", "metric": "psi", "baseline": "snapshot"}],
    )])
    for run_id in range(1, 7):  # a cold run, then 5 warm ones
        assert engine.run(config, run_id=run_id).outcomes["grouped"].status == "FAILURE"
    assert _memo(tmp_path) == {
        str(base / "src.parquet"), str(base / "tgt.parquet"),
        os.path.join(str(res), "baselines", "grouped", "v"),
    }


def test_scoped_resolver_reads_each_ref_once_under_contention():
    """32 threads (more than cores) resolve 4 refs, one of which fails,
    with a shortened switch interval: every ref is read exactly once and
    every caller of a ref gets that one read's frame or error."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    calls: list[str] = []
    calls_lock = threading.Lock()

    def fake_read(ref):
        with calls_lock:
            calls.append(ref)
        time.sleep(0.01)  # widen the check-then-act window
        if ref == "broken":
            raise FileNotFoundError(ref)
        return object()

    resolver = TableResolver(spark=None).scoped()
    resolver._read = fake_read
    refs = ["a", "b", "c", "broken"] * 50

    def resolve(ref):
        try:
            return ref, resolver.resolve(ref)
        except FileNotFoundError as e:
            return ref, e

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=32) as pool:
            results = list(pool.map(resolve, refs, timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert sorted(calls) == ["a", "b", "broken", "c"]
    by_ref: dict[str, set[int]] = {}
    for ref, got in results:
        by_ref.setdefault(ref, set()).add(id(got))
    assert all(len(ids) == 1 for ids in by_ref.values())
    assert all(isinstance(got, FileNotFoundError) == (ref == "broken") for ref, got in results)


def test_unresolvable_ref_errors_only_its_tasks(spark, sf_dir, tmp_path):
    engine = DataPactEngine(
        spark, TableResolver(spark, base_dir=sf_dir), results_path=str(tmp_path / "res")
    )
    config = DataPactConfig(validations=[
        ValidationTask(task_key="bad_a", source="orders", target="no_such_table", count_tolerance=0.0),
        ValidationTask(task_key="good", source="orders", target="orders", count_tolerance=0.0),
        ValidationTask(task_key="bad_b", source="no_such_table", target="orders", count_tolerance=0.0),
    ], max_parallel_tasks=3)
    res = engine.run(config)
    assert res.outcomes["good"].status == "SUCCESS"
    for key in ("bad_a", "bad_b"):
        assert res.outcomes[key].status == "ERROR"
        assert "no_such_table" in res.outcomes[key].error


# ------------------------------------------- partitioned-mode release
def test_run_partitioned_with_constraint_and_freshness_releases_cache(spark, tmp_path):
    """In fingerprint mode, constraint/freshness folds make the partition
    verdicts cache their joined profile; the engine releases it after
    writing the batches, and ``plan`` releases it once explained."""
    from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table

    stamp = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    src = synthesize_code_table(spark, 2000, n_repos=4, seed=5).withColumn("updated_at", stamp)
    tgt = corrupt_code_table(src, mutate_every=100)
    resolver = TableResolver(spark)
    resolver.register("code_src", src)
    resolver.register("code_tgt", tgt)
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "res"))
    task = ValidationTask(
        task_key="code_checks", source="code_src", target="code_tgt",
        primary_keys=["repo", "path"], partition_by=["repo", "lang"],
        count_tolerance=0.0, pk_row_hash_check=True, hash_columns=["content"],
        row_hash_mode="fingerprint", uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0,
        constraint_checks=[{"name": "has_content", "predicate": "length(content) > 0"}],
        freshness_checks=[{"column": "updated_at", "max_age_hours": 1_000_000, "side": "both"}],
    )
    spark.catalog.clearCache()
    engine.plan(DataPactConfig(validations=[task]))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    pinned = spark.sparkContext._jsc.getPersistentRDDs().size()

    verdicts = engine.run_partitioned(task, run_id=3)
    rows = verdicts.collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= pinned
    assert rows and all(r["constraint_has_content_source_passed"] for r in rows)
    assert all(r["freshness_updated_at_target_passed"] for r in rows)
    assert any(not r["overall_validation_passed"] for r in rows)  # mutated content

    res = engine.run(DataPactConfig(validations=[task]), run_id=4)
    assert res.outcomes["code_checks"].status == "FAILURE", res.outcomes["code_checks"].error
    pv = json.loads(res.outcomes["code_checks"].payload)["partition_verdicts"]
    assert 0 < pv["failed_groups"] <= pv["total_groups"] == len(rows)
