"""Freshness / SLA checks (config.FreshnessCheck — MAX(ts) folded into
the profile scan)."""

import datetime as dt
import json

import pytest

from datapact_spark.config import DataPactConfig, FreshnessCheck, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.sources.loader import TableResolver


@pytest.fixture()
def resolver(spark):
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    fresh = spark.createDataFrame(
        [(1, now - dt.timedelta(hours=1)), (2, now - dt.timedelta(hours=30))],
        "id int, updated_at timestamp",
    )
    stale = spark.createDataFrame(
        [(1, now - dt.timedelta(hours=30))], "id int, updated_at timestamp"
    )
    empty = fresh.where("id < 0")
    r = TableResolver(spark)
    r.register("fresh", fresh)
    r.register("stale", stale)
    r.register("empty", empty)
    return r


def _run(spark, resolver, tmp_path, **kwargs):
    cfg = DataPactConfig(validations=[ValidationTask(task_key="f", **kwargs)])
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "r"))
    res = engine.run(cfg, job_name="f")
    return res, json.loads(res.outcomes["f"].payload)


def test_config_validation():
    with pytest.raises(Exception, match="positive"):
        FreshnessCheck(column="ts", max_age_hours=0)
    with pytest.raises(Exception, match="side"):
        FreshnessCheck(column="ts", max_age_hours=1, side="up")
    with pytest.raises(Exception, match="Duplicate freshness"):
        ValidationTask(
            task_key="t", source="a", target="a",
            freshness_checks=[
                FreshnessCheck(column="ts", max_age_hours=1),
                FreshnessCheck(column="ts", max_age_hours=2),
            ],
        )


def test_fresh_passes_stale_fails(spark, resolver, tmp_path):
    res, p = _run(
        spark, resolver, tmp_path,
        source="fresh", target="fresh",
        freshness_checks=[FreshnessCheck(column="updated_at", max_age_hours=24)],
    )
    assert res.passed
    sv = p["freshness_validation_updated_at_source"]
    assert sv["status"] == "PASS" and sv["enforced"] is True
    assert 0 < sv["age_hours"] < 24

    res2, p2 = _run(
        spark, resolver, tmp_path,
        source="stale", target="stale",
        freshness_checks=[FreshnessCheck(column="updated_at", max_age_hours=24)],
    )
    assert not res2.passed
    assert p2["freshness_validation_updated_at_source"]["status"] == "FAIL"
    assert p2["freshness_validation_updated_at_source"]["age_hours"] > 24


def test_empty_slice_fails(spark, resolver, tmp_path):
    res, p = _run(
        spark, resolver, tmp_path,
        source="empty", target="empty",
        freshness_checks=[FreshnessCheck(column="updated_at", max_age_hours=24)],
    )
    assert not res.passed
    sv = p["freshness_validation_updated_at_source"]
    assert sv["status"] == "FAIL"
    assert sv.get("latest") is None


def test_rides_profile_scan_with_other_checks(spark, resolver, tmp_path):
    from datapact_spark.plans.compiler import compile_task

    task = ValidationTask(
        task_key="f", source="fresh", target="fresh",
        count_tolerance=0.0,
        freshness_checks=[
            FreshnessCheck(column="updated_at", max_age_hours=48, side="both")
        ],
    )
    # both-sides check + count: still exactly the two profile aggregates
    compiled = compile_task(spark, task, resolver)
    plan = compiled.metrics_df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 2
    res, p = _run(
        spark, resolver, tmp_path,
        source="fresh", target="fresh", count_tolerance=0.0,
        freshness_checks=[
            FreshnessCheck(column="updated_at", max_age_hours=48, side="both")
        ],
    )
    assert res.passed
    assert p["freshness_validation_updated_at_source"]["status"] == "PASS"
    assert p["freshness_validation_updated_at_target"]["status"] == "PASS"


def test_partitioned_freshness_and_salt_identity(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from datapact_spark.plans.partitioned import compile_partition_verdicts

    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    df = spark.createDataFrame(
        [("a", i, now - dt.timedelta(hours=1)) for i in range(10)]
        + [("b", i, now - dt.timedelta(hours=40)) for i in range(10)],
        "grp string, id int, updated_at timestamp",
    )
    r = TableResolver(spark)
    r.register("t", df)
    task = ValidationTask(
        task_key="pf", source="t", target="t",
        partition_by=["grp"], count_tolerance=0.0,
        freshness_checks=[FreshnessCheck(column="updated_at", max_age_hours=24)],
    )
    rows = {
        r_["grp"]: r_
        for r_ in compile_partition_verdicts(spark, task, r).collect()
    }
    assert rows["a"]["freshness_updated_at_source_passed"]
    assert not rows["b"]["freshness_updated_at_source_passed"]
    assert rows["a"]["overall_validation_passed"]
    assert not rows["b"]["overall_validation_passed"]
