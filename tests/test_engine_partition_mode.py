"""Engine-level per-partition mode: a partition_by task folds group
verdicts into its payload and fails when any group fails; genie tables
and violation materialization round-trip through the ledger."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datapact_spark import aggregate as agg
from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table
from datapact_spark.sources.loader import TableResolver


@pytest.fixture()
def engine(spark, tmp_path):
    src = synthesize_code_table(spark, 5000, n_repos=8, seed=11)
    tgt = corrupt_code_table(src, mutate_every=200)
    resolver = TableResolver(spark)
    resolver.register("code_src", src)
    resolver.register("code_tgt", tgt)
    return DataPactEngine(spark, resolver, results_path=str(tmp_path / "res"))


def test_partition_by_task_fails_and_reports_groups(engine):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="code_check",
                source="code_src",
                target="code_tgt",
                primary_keys=["repo", "path"],
                partition_by=["repo", "lang"],
                count_tolerance=0.0,
                pk_row_hash_check=True,
                hash_columns=["content"],
                hash_algo="sha256",
            )
        ]
    )
    res = engine.run(cfg, job_name="pp", run_id=42)
    assert res.outcomes["code_check"].status == "FAILURE"
    p = json.loads(res.outcomes["code_check"].payload)
    pv = p["partition_verdicts"]
    assert pv["partition_by"] == ["repo", "lang"]
    assert pv["failed_groups"] > 0
    assert pv["total_groups"] >= pv["failed_groups"]
    assert pv["sample_failed_keys"] and "repo" in pv["sample_failed_keys"][0]
    # verdicts are checkpointed on disk for resume/inspection
    vdf = engine.run_partitioned(
        ValidationTask(
            task_key="code_check", source="code_src", target="code_tgt",
            primary_keys=["repo", "path"], partition_by=["repo", "lang"],
            count_tolerance=0.0, pk_row_hash_check=True,
            hash_columns=["content"], hash_algo="sha256",
        ),
        run_id=42, resume=True,
    )
    assert vdf.count() == pv["total_groups"]


def test_partition_by_identical_passes(engine):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="self", source="code_src", target="code_src",
                partition_by=["repo"], count_tolerance=0.0,
            )
        ]
    )
    res = engine.run(cfg, job_name="pp2")
    assert res.outcomes["self"].status == "SUCCESS"
    p = json.loads(res.outcomes["self"].payload)
    assert p["partition_verdicts"]["failed_groups"] == 0


def test_violation_materialization(engine, spark):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="viol",
                source="code_src",
                target="code_tgt",
                primary_keys=["repo", "path"],
                pk_row_hash_check=True,
                hash_columns=["content"],
                hash_algo="sha256",
                materialize_violations=True,
            )
        ]
    )
    res = engine.run(cfg, job_name="v", run_id=77)
    base = os.path.join(engine.ledger.path, "violations", "run_id=77", "viol", "row_hash")
    assert os.path.exists(base)
    vrows = spark.read.parquet(base)
    assert vrows.count() > 0
    assert {"repo", "path", "source_hash", "target_hash"} <= set(vrows.columns)
    # every violation is a truly mutated row
    sample = vrows.limit(5).collect()
    for r in sample:
        assert r["source_hash"] != r["target_hash"]


def test_genie_tables(engine, spark):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="g1", source="code_src", target="code_tgt",
                primary_keys=["repo", "path"], count_tolerance=0.0,
                pk_row_hash_check=True, hash_columns=["content"],
                business_priority="Critical",
            ),
            ValidationTask(
                task_key="g2", source="code_src", target="code_src",
                count_tolerance=0.0,
            ),
        ]
    )
    engine.run(cfg, job_name="genie", run_id=5)
    engine.run(cfg, job_name="genie", run_id=6)  # second run
    ledger = engine.ledger.read()

    cur = {r["task_key"]: r for r in agg.genie_current_status(ledger).collect()}
    assert set(cur) == {"g1", "g2"}
    assert cur["g1"]["run_id"] == 6  # latest run wins
    assert cur["g1"]["status"] == "FAILURE" and cur["g2"]["status"] == "SUCCESS"

    quality = {r["table_fqn"]: r for r in agg.genie_table_quality(ledger).collect()}
    assert quality["code_tgt"]["failed_validations"] == 2  # two runs
    assert quality["code_src"]["success_rate_percent"] == 100.0

    issues = agg.genie_issues(ledger).collect()
    assert issues and all(i["task_key"] == "g1" for i in issues)
    assert any(i["check_type"] == "row_hash" for i in issues)


def test_retired_salt_and_strategy_keys_load_and_run(engine, tmp_path):
    """A config saved with the retired ``partition_salt_buckets`` key and
    ``uniqueness_strategy: scalable`` still loads (the strategy reads as
    the exact default, the salt key is ignored) and runs."""
    from datapact_spark.config import load_config

    path = tmp_path / "saved.yml"
    path.write_text(
        "validations:\n"
        "  - task_key: saved_keys\n"
        "    source: code_src\n"
        "    target: code_src\n"
        "    primary_keys: [repo, path]\n"
        "    partition_by: [repo, lang]\n"
        "    partition_salt_buckets: 16\n"
        "    count_tolerance: 0.0\n"
        "    uniqueness_columns: [repo, path]\n"
        "    uniqueness_tolerance: 0.0\n"
        "    uniqueness_strategy: scalable\n"
    )
    cfg = load_config(str(path))
    (task,) = cfg.validations
    assert task.uniqueness_strategy == "auto"
    assert not hasattr(task, "partition_salt_buckets")
    res = engine.run(cfg, job_name="saved", run_id=7)
    assert res.passed
    p = json.loads(res.outcomes["saved_keys"].payload)
    assert p["uniqueness_validation_repo_path"]["source_duplicates"] == "0"
    assert p["partition_verdicts"]["status"] == "PASS"
    assert p["partition_verdicts"]["total_groups"] > 0
