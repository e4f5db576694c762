"""Config model validation — mirrors the reference's validator suite
(/root/reference/tests/test_config_validators.py semantics)."""

import pytest
from pydantic import ValidationError

from datapact_spark.config import (
    CustomSqlTest,
    DataPactConfig,
    ReferentialCheck,
    ValidationTask,
    load_config,
    make_identifier,
)


def _task(**kw):
    base = dict(task_key="t", source="a", target="b")
    base.update(kw)
    return ValidationTask(**base)


class TestTolerances:
    @pytest.mark.parametrize("field", [
        "count_tolerance", "pk_hash_tolerance",
        "null_validation_tolerance", "uniqueness_tolerance",
    ])
    @pytest.mark.parametrize("bad", [-0.1, 1.5, 100.0])
    def test_out_of_range_rejected(self, field, bad):
        with pytest.raises(ValidationError, match="between 0.0 and 1.0"):
            _task(**{field: bad})

    def test_bounds_accepted(self):
        t = _task(count_tolerance=0.0, pk_hash_tolerance=1.0)
        assert t.count_tolerance == 0.0 and t.pk_hash_tolerance == 1.0


class TestBusinessMetadata:
    def test_priority_normalized(self):
        assert _task(business_priority=" critical ").business_priority == "CRITICAL"

    def test_priority_enum_enforced(self):
        with pytest.raises(ValidationError, match="Critical, High, Medium, Low"):
            _task(business_priority="urgent")

    @pytest.mark.parametrize("field", ["expected_sla_hours", "estimated_impact_usd"])
    def test_non_negative(self, field):
        with pytest.raises(ValidationError):
            _task(**{field: -1.0})


class TestFilter:
    def test_trimmed(self):
        assert _task(filter="  x > 1  ").filter == "x > 1"

    def test_empty_rejected(self):
        with pytest.raises(ValidationError):
            _task(filter="   ")

    def test_trailing_semicolon_rejected(self):
        with pytest.raises(ValidationError, match="semicolon"):
            _task(filter="x > 1;")


class TestCustomSql:
    def test_name_rules(self):
        with pytest.raises(ValidationError):
            CustomSqlTest(name="", sql="SELECT 1")
        with pytest.raises(ValidationError):
            CustomSqlTest(name="bad;name", sql="SELECT 1")
        with pytest.raises(ValidationError, match="semicolon"):
            CustomSqlTest(name="ok", sql="SELECT 1;")

    def test_duplicate_names_rejected(self):
        with pytest.raises(ValidationError, match="Duplicate"):
            _task(custom_sql_tests=[
                {"name": "A Check", "sql": "SELECT 1"},
                {"name": "a check", "sql": "SELECT 2"},
            ])

    def test_sanitization_collision_rejected(self):
        # 'my check' and 'my-check' both slug to my_check (config.py:214-238
        # parity)
        with pytest.raises(ValidationError, match="sanitization"):
            _task(custom_sql_tests=[
                {"name": "my check", "sql": "SELECT 1"},
                {"name": "my-check", "sql": "SELECT 2"},
            ])

    def test_make_identifier(self):
        assert make_identifier("My Fancy Check!") == "my_fancy_check"
        assert make_identifier("123abc").startswith("custom_sql_")


class TestRefs:
    def test_three_part_refs(self):
        t = ValidationTask(
            task_key="t",
            source_catalog="c", source_schema="s", source_table="x",
            target_catalog="c", target_schema="s", target_table="y",
        )
        assert t.source_ref == "c.s.x" and t.target_ref == "c.s.y"
        assert t.source_parts() == ("c", "s", "x")

    def test_missing_refs_rejected(self):
        with pytest.raises(ValidationError, match="source"):
            ValidationTask(task_key="t", target="b")

    def test_referential_check_shape(self):
        with pytest.raises(ValidationError, match="same length"):
            ReferentialCheck(name="x", fk_columns=["a", "b"], ref_table="p", ref_columns=["c"])
        with pytest.raises(ValidationError, match="strategy"):
            ReferentialCheck(name="x", fk_columns=["a"], ref_table="p",
                             ref_columns=["c"], strategy="hash")


class TestRootConfig:
    def test_duplicate_task_keys_rejected(self):
        with pytest.raises(ValidationError, match="Duplicate task_key"):
            DataPactConfig(validations=[_task(), _task()])

    def test_yaml_roundtrip(self, tmp_path):
        p = tmp_path / "c.yml"
        p.write_text(
            """
results_path: /tmp/x
validations:
  - task_key: a
    source: orders
    target: orders
    count_tolerance: 0.05
    agg_validations:
      - column: v
        validations:
          - {agg: sum, tolerance: 0.1}
"""
        )
        cfg = load_config(p)
        assert cfg.results_path == "/tmp/x"
        assert cfg.validations[0].agg_validations[0].validations[0].agg == "sum"

    def test_bad_agg_rejected(self):
        with pytest.raises(ValidationError, match="agg must be"):
            _task(agg_validations=[{"column": "v", "validations": [{"agg": "MEDIAN", "tolerance": 0.1}]}])


class TestRoi:
    def test_metrics_and_grades(self):
        from datapact_spark.roi import (
            DataQualityMetrics,
            RoiModel,
            grade_throughput,
            processing_speed,
            quality_tier,
        )

        m = DataQualityMetrics(
            total_validations=100, passed_validations=95, failed_validations=5,
            critical_failures=2, tables_validated=10, records_processed=1_000_000,
            avg_runtime_seconds=10.0, data_quality_score=95.0,
        )
        assert m.success_rate == 95.0 and m.failure_rate == 5.0
        sav = RoiModel().monthly_savings(m)
        assert sav["incident_prevention"] == 2 * 0.8 * 150_000
        assert sav["compliance_savings"] > 0  # score ≥ 95
        roi = RoiModel().annual_roi(m)
        assert roi["net_benefit"] == roi["annual_savings"] - 250_000
        assert grade_throughput(1_500_000).startswith("Enterprise Elite")
        assert grade_throughput(500) == "Development Grade (<1K rec/sec)"
        assert processing_speed(1000, 0)["throughput_grade"] == "N/A"
        assert quality_tier(99.6) == "World Class"
        assert quality_tier(80.0) == "Below Standard"

    def test_reporting_extras(self):
        """r6: the reference's reporting tail (roi_calculator.py:153-322)
        — industry benchmark, executive summary, dashboard payload."""
        from datapact_spark.roi import (
            DataQualityMetrics,
            benchmark_against_industry,
            format_roi_dashboard,
            generate_executive_summary,
            percentile_rank,
        )

        m = DataQualityMetrics(
            total_validations=100, passed_validations=95, failed_validations=5,
            critical_failures=2, tables_validated=10, records_processed=1_000_000,
            avg_runtime_seconds=10.0, data_quality_score=95.0,
        )
        b = benchmark_against_industry(m)
        assert b["quality_tier"] == "Industry Standard"
        assert b["percentile_rank"] == 75
        assert b["improvement_potential"] == pytest.approx(4.5)
        assert b["industry_comparison"]["competitive_advantage"]
        assert percentile_rank(92.0) == 25 and percentile_rank(50.0) == 10

        text = generate_executive_summary(m, now="2026-08-17 12:00")
        assert "EXECUTIVE DATA QUALITY REPORT" in text
        assert "Generated: 2026-08-17 12:00" in text
        assert "Data Quality Score: 95.0%" in text
        assert "ADDRESS: 2 critical issues require resolution." in text
        # score 95 is not below standard and not >= 99: no URGENT/EXCELLENT
        assert "URGENT" not in text and "EXCELLENT" not in text

        dash = format_roi_dashboard(m)
        assert [c["title"] for c in dash["kpi_cards"]] == [
            "Monthly Savings", "ROI", "Payback Period", "5-Year Value",
        ]
        assert dash["savings_breakdown"]["categories"] == [
            "labor_savings", "incident_prevention",
            "compliance_savings", "revenue_protection",
        ]
        assert dash["executive_metrics"]["incidents_prevented_monthly"] == 1
        assert dash["executive_metrics"]["compliance_risk_reduction"] == "90%"


class TestFilterBuilder:
    def test_safe_ops(self, spark):
        # Column construction needs an active SparkContext
        from datapact_spark.functions.filters import build_filter

        def s(c):
            return str(c).upper()

        # behavioral check through a real plan, not repr-string matching
        df = spark.createDataFrame([(1, "ab"), (5, None), (2, "zz")], "x int, y string")
        assert df.where(build_filter("x", "=", 5)).count() == 1
        assert df.where(build_filter("y", "=", None)).count() == 1
        assert df.where(build_filter("y", "!=", None)).count() == 2
        assert df.where(build_filter("x", "in", [1, 2])).count() == 2
        assert df.where(build_filter("x", "not in", [1, 2])).count() == 1
        assert df.where(build_filter("y", "like", "a%")).count() == 1
        assert df.where(build_filter("x", ">=", 2)).count() == 2

    def test_bad_op_rejected(self, spark):
        from datapact_spark.functions.filters import build_filter

        with pytest.raises(ValueError, match="not allowed"):
            build_filter("x", "REGEXP", "a")

    def test_identifier_validation(self):
        from datapact_spark.functions.filters import validate_identifier

        assert validate_identifier("good_name1") == "good_name1"
        for bad in ["", "1bad", "bad-name", "bad;drop", "a b"]:
            with pytest.raises(ValueError):
                validate_identifier(bad)

    def test_filter_text_screening(self):
        from datapact_spark.functions.filters import validate_filter_text

        assert validate_filter_text("x > 1 AND y = 'a'")
        for bad in ["x; DROP TABLE t", "x -- comment", "1=1; DELETE FROM t"]:
            with pytest.raises(ValueError, match="forbidden"):
                validate_filter_text(bad)


class TestRound2Validators:
    """Config hardening added in round 2 (ADVICE r1 + VERDICT items 3/4)."""

    def _task(self, **kw):
        from datapact_spark.config import ValidationTask

        return ValidationTask(task_key="t", source="a", target="b", **kw)

    def test_uniqueness_strategy_validated(self):
        assert self._task().uniqueness_strategy == "auto"
        assert self._task(uniqueness_strategy="approx").uniqueness_strategy == "approx"
        # saved configs' retired strategies load as the exact default
        for old in ("parity", "scalable"):
            assert self._task(uniqueness_strategy=old).uniqueness_strategy == "auto"
        with pytest.raises(ValueError, match="uniqueness_strategy"):
            self._task(uniqueness_strategy="fastest")

    def test_custom_sql_fingerprint_validated(self):
        from datapact_spark.config import CustomSqlTest

        assert CustomSqlTest(name="a", sql="SELECT 1").fingerprint == "commutative"
        assert (
            CustomSqlTest(name="a", sql="SELECT 1", fingerprint="reference").fingerprint
            == "reference"
        )
        with pytest.raises(ValueError, match="fingerprint"):
            CustomSqlTest(name="a", sql="SELECT 1", fingerprint="md5")

    def test_task_filter_is_screened(self):
        # the documented injection screen must actually run on task.filter
        with pytest.raises(ValueError, match="forbidden"):
            self._task(filter="x = 1; DROP TABLE t")
        with pytest.raises(ValueError, match="forbidden"):
            self._task(filter="x = 1 -- sneaky")
        assert self._task(filter="x > 1 AND y = 'a'").filter == "x > 1 AND y = 'a'"

    def test_duplicate_agg_and_drift_pairs_rejected(self):
        with pytest.raises(ValueError, match="Duplicate agg"):
            self._task(
                agg_validations=[{
                    "column": "v",
                    "validations": [
                        {"agg": "SUM", "tolerance": 0.1},
                        {"agg": "sum", "tolerance": 0.2},
                    ],
                }]
            )
        with pytest.raises(ValueError, match="Duplicate drift"):
            self._task(
                drift_checks=[
                    {"column": "v", "metric": "psi"},
                    {"column": "v", "metric": "psi"},
                ]
            )


class TestDriftSketch:
    def test_sketch_families(self):
        from datapact_spark.config import DriftCheck

        for family in ("histogram", "tdigest"):
            assert DriftCheck(column="x", sketch=family).sketch == family
        with pytest.raises(ValidationError, match="'histogram' or 'tdigest'"):
            DriftCheck(column="x", sketch="histgram")

    def test_removed_kll_sketch_fails_at_load(self, tmp_path):
        p = tmp_path / "c.yml"
        p.write_text(
            "validations:\n"
            "  - task_key: t\n"
            "    source: a\n"
            "    target: b\n"
            "    drift_checks:\n"
            "      - column: x\n"
            "        sketch: kll\n"
        )
        with pytest.raises(ValidationError, match="removed; use sketch: tdigest"):
            load_config(p)
