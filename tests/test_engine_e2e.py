"""End-to-end engine lifecycle: config → run → ledger → aggregate → gate.

Mirrors the reference's manual-E2E oracle strategy (SURVEY.md §5):
deterministic source/target pairs with known corruption, task verdicts
asserted exactly.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine, DataPactValidationError
from datapact_spark.sources.loader import TableResolver


@pytest.fixture()
def engine(spark, tables, tmp_path):
    resolver = TableResolver(spark)
    resolver.register("orders", tables["orders"])
    resolver.register("orders_sample", tables["orders"].where(F.col("o_orderkey") % 10 != 0))
    resolver.register("customer", tables["customer"])
    resolver.register("lineitem", tables["lineitem"])
    return DataPactEngine(spark, resolver, results_path=str(tmp_path / "results"))


def test_identical_tables_pass(engine):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="orders_self",
                source="orders",
                target="orders",
                primary_keys=["o_orderkey"],
                count_tolerance=0.0,
                pk_row_hash_check=True,
                pk_hash_tolerance=0.0,
                null_validation_columns=["o_custkey"],
                null_validation_tolerance=0.0,
                agg_validations=[
                    {
                        "column": "o_totalprice",
                        "validations": [{"agg": "SUM", "tolerance": 0.0}],
                    }
                ],
                uniqueness_columns=["o_orderkey"],
                uniqueness_tolerance=0.0,
                business_priority="Critical",
            )
        ]
    )
    result = engine.run(config, job_name="t")
    assert result.passed
    payload = json.loads(result.outcomes["orders_self"].payload)
    assert payload["count_validation"]["status"] == "PASS"
    assert payload["row_hash_validation"]["status"] == "PASS"
    assert payload["row_hash_validation"]["mismatch_count"] == "0"
    assert payload["null_validation_o_custkey"]["status"] == "PASS"
    assert payload["agg_validation_o_totalprice_SUM"]["status"] == "PASS"
    assert payload["uniqueness_validation_o_orderkey"]["status"] == "PASS"


def test_degraded_target_fails_count(engine):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="orders_vs_sample",
                source="orders",
                target="orders_sample",
                count_tolerance=0.01,  # ~10% of rows dropped > 1% tolerance
                business_priority="High",
                estimated_impact_usd=1000.0,
            )
        ]
    )
    result = engine.run(config, job_name="t")
    assert result.failed_task_keys == ["orders_vs_sample"]
    payload = json.loads(result.outcomes["orders_vs_sample"].payload)
    assert payload["count_validation"]["status"] == "FAIL"
    # tolerance formatting contract: '%.2f%%'
    assert payload["count_validation"]["tolerance_percent"] == "1.00%"


def test_raise_on_failure_gate(engine):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="gate",
                source="orders",
                target="orders_sample",
                count_tolerance=0.0,
            )
        ]
    )
    with pytest.raises(DataPactValidationError) as err:
        engine.run(config, job_name="t", raise_on_failure=True)
    assert "gate" in str(err.value)


def test_ledger_and_exec_summary(engine, spark):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="a_pass",
                source="orders",
                target="orders",
                count_tolerance=0.0,
                business_domain="Sales",
                business_priority="Critical",
                estimated_impact_usd=500.0,
            ),
            ValidationTask(
                task_key="b_fail",
                source="orders",
                target="orders_sample",
                count_tolerance=0.0,
                business_domain="Sales",
                business_priority="Critical",
                estimated_impact_usd=250.0,
            ),
        ]
    )
    result = engine.run(config, job_name="ledger_job", run_id=777)
    ledger = engine.ledger.run_results(777)
    rows = {r["task_key"]: r for r in ledger.collect()}
    assert rows["a_pass"]["status"] == "SUCCESS"
    assert rows["b_fail"]["status"] == "FAILURE"
    assert rows["b_fail"]["job_name"] == "ledger_job"

    summary = engine.ledger.read_exec_table("exec_run_summary").collect()[0]
    assert summary["total_tasks"] == 2
    assert summary["failure_count"] == 1
    assert summary["success_rate_percent"] == 50.0
    assert summary["critical_failures"] == 1
    assert summary["realized_impact_usd"] == 250.0
    assert summary["failed_task_keys"] == ["b_fail"]
    assert not result.passed


def test_no_checks_vacuous_pass(engine):
    config = DataPactConfig(
        validations=[ValidationTask(task_key="noop", source="orders", target="orders")]
    )
    result = engine.run(config, job_name="t")
    assert result.passed
    payload = json.loads(result.outcomes["noop"].payload)
    assert "No validations configured" in payload["message"]


def test_filter_on_missing_column_errors_with_its_name(engine, spark):
    """With PySpark's call-site capture off (session.py) a bad filter
    still ends the task ERROR with the column and the error class."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    config = DataPactConfig(validations=[
        ValidationTask(task_key="bad_filter", source="orders", target="orders",
                       count_tolerance=0.0, filter="o_no_such_col > 0"),
        ValidationTask(task_key="good", source="orders", target="orders",
                       count_tolerance=0.0),
    ])
    result = engine.run(config)
    outcome = result.outcomes["bad_filter"]
    assert outcome.status == "ERROR"
    assert "UNRESOLVED_COLUMN" in outcome.error
    assert "o_no_such_col" in outcome.error
    assert result.outcomes["good"].status == "SUCCESS"
