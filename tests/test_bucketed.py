"""Bucketed co-located joins: same bucket spec on both sides ⇒ the PK
join plans with NO Exchange on either side."""

import pytest
from pyspark.sql import functions as F

from datapact_spark.sources.bucketed import is_colocated, write_bucketed


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table

    src = synthesize_code_table(spark, 5000, n_repos=6, seed=13)
    tgt = corrupt_code_table(src, mutate_every=100)
    write_bucketed(src, "bsrc", ["repo", "path"], buckets=8)
    write_bucketed(tgt, "btgt", ["repo", "path"], buckets=8)
    yield "bsrc", "btgt"
    spark.sql("DROP TABLE IF EXISTS bsrc")
    spark.sql("DROP TABLE IF EXISTS btgt")


@pytest.fixture()
def no_broadcast(spark):
    """Force SMJ (test tables are broadcast-sized; at 10^12 rows neither
    side broadcasts — that's the regime bucketing exists for)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_is_exchange_free(spark, bucketed_tables, no_broadcast):
    a, b = bucketed_tables
    s, t = spark.table(a), spark.table(b)
    joined = s.select("repo", "path", "content").join(
        t.select("repo", "path", F.col("content").alias("t_content")),
        on=["repo", "path"],
    )
    plan = _explain(joined)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, f"bucketed join must not shuffle:\n{tree}"
    assert "SortMergeJoin" in tree
    assert joined.count() > 0


def test_row_hash_over_bucketed_tables_no_exchange_before_join(
    spark, bucketed_tables, no_broadcast
):
    """The engine's row-hash compare inherits bucketing: hashing is a
    projection, so the PK join needs no exchange before the SMJ when
    inputs are co-bucketed on the PKs — task-level and per partition
    group alike (the join key is the exact PK tuple, not a hash fold)."""
    from datapact_spark.operators.rowhash import pk_join_metrics

    a, b = bucketed_tables
    m = pk_join_metrics(
        spark.table(a), spark.table(b), ["repo", "path"],
        hash_columns=["content"], algo="sha256",
    )
    plan = _explain(m)
    tree = plan.split("\n\n")[0]
    # only the final 1-row aggregate may exchange (SinglePartition);
    # no hash-partitioned shuffle anywhere — the join rides the buckets
    assert "SortMergeJoin" in tree
    assert plan.count("Exchange hashpartitioning") == 0, (
        f"PK join over bucketed tables shuffled:\n{tree}"
    )

    grouped = pk_join_metrics(
        spark.table(a), spark.table(b), ["repo", "path"], ["repo", "lang"],
        hash_columns=["content"], algo="sha256",
    )
    tree = _explain(grouped).split("\n\n")[0]
    # the per-group aggregate above the join may exchange on (repo,
    # lang); nothing below the SortMergeJoin may
    below = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below, (
        f"grouped PK join over bucketed tables shuffled:\n{tree}"
    )
    assert grouped.count() > 0


def test_is_colocated(spark, bucketed_tables):
    a, b = bucketed_tables
    assert is_colocated(spark, a, b, ["repo", "path"])
    assert not is_colocated(spark, a, b, ["repo"])
    spark.range(10).write.mode("overwrite").saveAsTable("plain_t")
    try:
        assert not is_colocated(spark, a, "plain_t", ["repo", "path"])
    finally:
        spark.sql("DROP TABLE IF EXISTS plain_t")


def test_engine_colocation_check_and_exchange_free_plan(
    spark, bucketed_tables, no_broadcast, tmp_path, caplog
):
    """Engine-level loop closure: the resolver detects co-bucketed
    catalog tables for a PK row-hash task, the engine records it, and
    the COMPILED task plan joins without any hash-partitioned exchange
    (the join rides the buckets). A non-matching bucket spec is flagged
    as a shuffle warning instead."""
    import logging

    from datapact_spark.config import ValidationTask
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.plans.compiler import compile_task
    from datapact_spark.sources.loader import TableResolver

    a, b = bucketed_tables
    resolver = TableResolver(spark)
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "res"))
    task = ValidationTask(
        task_key="buck", source=a, target=b,
        primary_keys=["repo", "path"], pk_row_hash_check=True,
        pk_hash_tolerance=0.0, hash_columns=["content"], hash_algo="sha256",
    )
    with caplog.at_level(logging.INFO, logger="datapact_spark"):
        assert engine._log_colocation(task) is True
    assert any("exchange-free" in r.message for r in caplog.records)
    compiled = compile_task(spark, task, resolver)
    plan = _explain(compiled.metrics_df)
    assert "Exchange hashpartitioning" not in plan, (
        f"PK join over co-bucketed catalog tables shuffled:\n{plan[:2000]}"
    )
    # join on a bucket-spec MISMATCH (bucketed by (repo, path), joining
    # on repo alone) → detected as not co-located, warned
    caplog.clear()
    task2 = ValidationTask(
        task_key="buck2", source=a, target=b,
        primary_keys=["repo"], pk_row_hash_check=True, pk_hash_tolerance=0.0,
        hash_columns=["content"], hash_algo="sha256",
    )
    with caplog.at_level(logging.INFO, logger="datapact_spark"):
        assert engine._log_colocation(task2) is False
    assert any("NOT co-bucketed" in r.message for r in caplog.records)
    # registered DataFrames carry no bucket metadata → tri-state None
    resolver.register("plain_df", spark.table(a))
    task3 = ValidationTask(
        task_key="buck3", source="plain_df", target=b,
        primary_keys=["repo", "path"], pk_row_hash_check=True,
        pk_hash_tolerance=0.0, hash_columns=["content"], hash_algo="sha256",
    )
    assert engine._log_colocation(task3) is None
