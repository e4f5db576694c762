"""Row-level CHECK-constraint validation (config.ConstraintCheck →
operators/constraints.py → compiler fold)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datapact_spark.config import ConstraintCheck, DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.operators.constraints import (
    constraint_metrics,
    violation_flag,
)
from datapact_spark.sources.loader import TableResolver


@pytest.fixture()
def engine(spark, tables, tmp_path):
    resolver = TableResolver(spark)
    resolver.register("orders", tables["orders"])
    resolver.register("lineitem", tables["lineitem"])
    return DataPactEngine(spark, resolver, results_path=str(tmp_path / "results"))


# ---- config validation -------------------------------------------------


def test_config_rejects_bad_name():
    with pytest.raises(Exception, match="simple identifier"):
        ConstraintCheck(name="bad-name", predicate="x > 0")


def test_config_rejects_bad_side_and_tolerance():
    with pytest.raises(Exception, match="side"):
        ConstraintCheck(name="c", predicate="x > 0", side="left")
    with pytest.raises(Exception, match="Tolerance"):
        ConstraintCheck(name="c", predicate="x > 0", tolerance=2.0)


def test_config_rejects_duplicate_constraint_names():
    with pytest.raises(Exception, match="Duplicate constraint"):
        ValidationTask(
            task_key="t",
            source="orders",
            target="orders",
            constraint_checks=[
                ConstraintCheck(name="c", predicate="a > 0"),
                ConstraintCheck(name="c", predicate="b > 0"),
            ],
        )


def test_config_rejects_empty_and_semicolon_predicates():
    with pytest.raises(Exception, match="empty"):
        ConstraintCheck(name="c", predicate="   ")
    with pytest.raises(Exception, match="semicolon"):
        ConstraintCheck(name="c", predicate="x > 0;")


# ---- null semantics ----------------------------------------------------


def test_null_semantics_ansi_vs_strict(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, None)], "id int, v int"
    )
    ansi = ConstraintCheck(name="c", predicate="v > 0")  # null_passes=True
    strict = ConstraintCheck(name="c", predicate="v > 0", null_passes=False)
    n_ansi = df.where(violation_flag(ansi)).count()
    n_strict = df.where(violation_flag(strict)).count()
    assert n_ansi == 1  # only the -5 row
    assert n_strict == 2  # -5 and the NULL row


def test_standalone_metrics_relation(spark):
    df = spark.createDataFrame([(1, 10), (2, -5), (3, 0)], "id int, v int")
    checks = [
        ConstraintCheck(name="pos", predicate="v > 0"),
        ConstraintCheck(name="nonzero", predicate="v <> 0"),
    ]
    row = constraint_metrics(df, checks, "source").collect()[0]
    assert row["constraint_rows_source"] == 3
    assert row["constraint_violations_pos_source"] == 2
    assert row["constraint_violations_nonzero_source"] == 1


# ---- end-to-end through the engine -------------------------------------


def test_constraints_pass_and_fail_e2e(engine):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="orders_constraints",
                source="orders",
                target="orders",
                count_tolerance=0.0,  # profile scan exists -> folded path
                constraint_checks=[
                    ConstraintCheck(
                        name="price_positive", predicate="o_totalprice > 0"
                    ),
                    ConstraintCheck(
                        name="impossible", predicate="o_totalprice < 0"
                    ),
                ],
            )
        ]
    )
    res = engine.run(cfg, job_name="c")
    assert not res.passed
    payload = json.loads(res.outcomes["orders_constraints"].payload)
    good = payload["constraint_validation_price_positive_source"]
    bad = payload["constraint_validation_impossible_source"]
    assert good["status"] == "PASS" and good["violation_rows"] == "0"
    assert bad["status"] == "FAIL"
    assert bad["predicate"] == "o_totalprice < 0"
    assert bad["null_semantics"] == "ansi"
    # rows equals the side count of the profile scan
    assert good["rows"] == bad["rows"]


def test_constraints_only_task_standalone_path(engine):
    # no other checks configured -> standalone 1-row aggregate path
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="lonely",
                source="orders",
                target="orders",
                constraint_checks=[
                    ConstraintCheck(
                        name="key_nonneg",
                        predicate="o_orderkey >= 0",
                        side="both",
                    )
                ],
            )
        ]
    )
    res = engine.run(cfg, job_name="c2")
    assert res.passed
    payload = json.loads(res.outcomes["lonely"].payload)
    assert payload["constraint_validation_key_nonneg_source"]["status"] == "PASS"
    assert payload["constraint_validation_key_nonneg_target"]["status"] == "PASS"


def test_constraint_tolerance_gate(engine, tables):
    n = tables["orders"].count()
    # ~10% of orderkeys end in 0 -> violation rate ~0.1; tolerance 0.5 passes
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="tol",
                source="orders",
                target="orders",
                constraint_checks=[
                    ConstraintCheck(
                        name="not_mod10",
                        predicate="o_orderkey % 10 <> 0",
                        tolerance=0.5,
                    )
                ],
            )
        ]
    )
    res = engine.run(cfg, job_name="c3")
    assert res.passed
    payload = json.loads(res.outcomes["tol"].payload)
    c = payload["constraint_validation_not_mod10_source"]
    assert c["status"] == "PASS"
    assert int(c["violation_rows"].replace(",", "")) > 0
    assert int(c["rows"].replace(",", "")) == n


def test_constraint_violations_materialized(engine, spark):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="viol",
                source="orders",
                target="orders",
                materialize_violations=True,
                constraint_checks=[
                    ConstraintCheck(
                        name="mod10", predicate="o_orderkey % 10 <> 0"
                    )
                ],
            )
        ]
    )
    res = engine.run(cfg, job_name="c4", run_id=55)
    assert not res.passed
    base = os.path.join(
        engine.ledger.path,
        "violations",
        "run_id=55",
        "viol",
        "constraint_mod10_source",
    )
    assert os.path.exists(base)
    vrows = spark.read.parquet(base)
    assert vrows.count() > 0
    assert vrows.where(F.col("o_orderkey") % 10 != 0).count() == 0
    assert vrows.columns[0] == "__constraint"


def test_constraints_fold_into_profile_scan(spark, tables):
    """N constraints on a profiled side add ZERO extra scans: the
    compiled plan aggregates the source exactly once."""
    from datapact_spark.plans.compiler import compile_task

    resolver = TableResolver(spark)
    resolver.register("orders", tables["orders"])
    task = ValidationTask(
        task_key="fold",
        source="orders",
        target="orders",
        count_tolerance=0.0,
        agg_validations=[
            {
                "column": "o_totalprice",
                "validations": [{"agg": "SUM", "tolerance": 0.0}],
            }
        ],
        constraint_checks=[
            ConstraintCheck(name="c1", predicate="o_totalprice > 0"),
            ConstraintCheck(name="c2", predicate="o_orderkey > 0"),
            ConstraintCheck(name="c3", predicate="o_custkey > 0"),
        ],
    )
    compiled = compile_task(spark, task, resolver)
    plan = compiled.metrics_df._jdf.queryExecution().executedPlan().toString()
    # two sides -> exactly two scans of the orders parquet, same as a
    # constraint-free profile plan (constraints ride the same aggregate)
    assert plan.count("Scan parquet") == 2


# ---- per-partition verdicts --------------------------------------------


def test_partitioned_constraint_verdicts_and_salt_identity(spark, tables):
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    resolver = TableResolver(spark)
    resolver.register("orders", tables["orders"])
    task = ValidationTask(
        task_key="pc",
        source="orders",
        target="orders",
        partition_by=["o_orderpriority"],
        count_tolerance=0.0,
        constraint_checks=[
            ConstraintCheck(
                name="not_mod10",
                predicate="o_orderkey % 10 <> 0",
                tolerance=0.5,
            ),
            ConstraintCheck(name="impossible", predicate="o_totalprice < 0"),
        ],
    )
    plain = compile_partition_verdicts(spark, task, resolver).orderBy(
        "o_orderpriority"
    )
    rows = plain.collect()
    assert rows, "expected one verdict row per priority group"
    for r in rows:
        assert r["constraint_not_mod10_source_passed"]
        assert not r["constraint_impossible_source_passed"]
        assert not r["overall_validation_passed"]
        assert 0 < r["constraint_violations_not_mod10_source"] <= r["source_count"]
        assert r["constraint_violations_impossible_source"] == r["source_count"]


def test_constraints_in_streaming_microbatch(spark, tmp_path):
    """Constraints ride compile_task, so streaming micro-batch
    validation gets them for free — a violating batch fails."""
    import os

    from datapact_spark.streaming.incremental import validate_stream

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    ref = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(20)], "id long, v double"
    )
    ref.coalesce(1).write.mode("append").parquet(src_dir)
    bad = spark.createDataFrame([(100, -5.0)], "id long, v double")
    bad.coalesce(1).write.mode("append").parquet(src_dir)

    resolver = TableResolver(spark)
    resolver.register("reference", ref)
    task = ValidationTask(
        task_key="stream_con",
        source="incoming",
        target="reference",
        constraint_checks=[
            ConstraintCheck(name="v_positive", predicate="v > 0")
        ],
    )
    stream = (
        spark.readStream.schema("id long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    seen = []
    q = validate_stream(
        spark,
        task,
        resolver,
        stream,
        results_path=str(tmp_path / "results"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_batch=lambda bid, status, ok: seen.append(status),
    )
    q.awaitTermination(120)
    assert "FAILURE" in seen and "SUCCESS" in seen


def test_plan_cli_with_all_new_checks(spark, sf_dir, tmp_path, capsys):
    """`plan` dry-runs a config carrying schema + constraint + freshness
    checks without executing anything."""
    from datapact_spark.cli import main

    cfg = tmp_path / "all.yml"
    cfg.write_text(
        """
results_path: /tmp/ignored
validations:
  - task_key: everything
    source: orders
    target: orders
    primary_keys: [o_orderkey]
    count_tolerance: 0.0
    pk_row_hash_check: true
    schema_check: true
    constraint_checks:
      - {name: price_pos, predicate: o_totalprice > 0}
    freshness_checks:
      - {column: o_orderdate, max_age_hours: 876000}
"""
    )
    rc = main(["plan", "--config", str(cfg), "--base-dir", sf_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "=== everything ===" in out and "Physical Plan" in out
