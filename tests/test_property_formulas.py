"""Property-based formula parity: the SQL-text implementations of every
check formula must agree with straight-line Python reimplementations of
the reference SQL on randomized metric values.

Strategy: hypothesis generates the metric tuples; all examples are
evaluated in ONE DataFrame pass per property (a Spark job per example
would be prohibitively slow)."""

import math

from hypothesis import given, settings, strategies as st

from datapact_spark.functions import exprs as E

counts = st.integers(min_value=0, max_value=10**12)
small_counts = st.integers(min_value=0, max_value=10**6)
tols = st.sampled_from([0.0, 0.001, 0.05, 0.5, 1.0])


def _eval_batch(spark, rows, schema, text):
    df = spark.createDataFrame(rows, schema)
    return [r["out"] for r in df.selectExpr(f"{text} AS out").collect()]


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_count_rel_diff_property(spark, data):
    cases = [
        (data.draw(counts), data.draw(counts)) for _ in range(200)
    ] + [(0, 0), (0, 5), (5, 0), (1, 1)]
    got = _eval_batch(
        spark,
        [(s, t) for s, t in cases],
        "s long, t long",
        E.count_rel_diff("s", "t"),
    )
    for (s, t), g in zip(cases, got):
        expected = 0.0 if s == 0 else abs(s - t) / float(s)
        assert math.isclose(g, expected, rel_tol=1e-12), (s, t, g, expected)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_null_formulas_property(spark, data):
    cases = [
        (data.draw(small_counts), data.draw(small_counts)) for _ in range(200)
    ] + [(0, 0), (0, 3), (3, 0)]
    rows = [(s, t) for s, t in cases]
    pk_pct = _eval_batch(
        spark, rows, "s long, t long",
        E.null_diff_pct_pk("s", "t"),
    )
    tc_pct = _eval_batch(
        spark, rows, "s long, t long",
        E.null_diff_pct_counts("s", "t"),
    )
    pk_pass = _eval_batch(
        spark, rows, "s long, t long",
        E.null_pass_pk("s", "t", 0.05),
    )
    for (s, t), g_pk, g_tc, g_pass in zip(cases, pk_pct, tc_pct, pk_pass):
        # PK-join variant (validation.sql.j2:360-365)
        exp_pk = (0.0 if t == 0 else 100.0) if s == 0 else abs(s - t) / s * 100
        assert math.isclose(g_pk, exp_pk, rel_tol=1e-12), (s, t, g_pk, exp_pk)
        # table-count variant (j2:367)
        if s == 0 and t > 0:
            exp_tc = 100.0
        elif t == 0 and s > 0:
            exp_tc = 100.0
        else:
            exp_tc = 0.0 if s == 0 else abs(t - s) / s * 100
        assert math.isclose(g_tc, exp_tc, rel_tol=1e-12), (s, t, g_tc, exp_tc)
        # PK pass rule (j2:448-452)
        exp_pass = (t == 0) if s == 0 else (abs(s - t) / s <= 0.05)
        assert g_pass == exp_pass, (s, t, g_pass, exp_pass)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_agg_rel_diff_property(spark, data):
    vals = st.one_of(
        st.none(),
        st.decimals(
            min_value=-(10**9), max_value=10**9, places=6, allow_nan=False
        ),
    )
    cases = [(data.draw(vals), data.draw(vals)) for _ in range(200)] + [
        (None, None), (0, 0), (5, 5), (0, 7), (-3, 3)
    ]
    from decimal import Decimal

    rows = [
        (
            None if s is None else Decimal(s),
            None if t is None else Decimal(t),
        )
        for s, t in cases
    ]
    got = _eval_batch(
        spark, rows, "s decimal(38,6), t decimal(38,6)",
        f"CAST({E.agg_rel_diff('s', 't')} AS DOUBLE)",
    )
    for (s, t), g in zip(rows, got):
        # reference macro (validation.sql.j2:39-48)
        if s is None or t is None:
            assert g is None, (s, t, g)
            continue
        if s == t or max(abs(s), abs(t)) == 0:
            exp = 0.0
        else:
            exp = float(abs(s - t) / max(abs(s), abs(t)))
        assert g is not None and math.isclose(g, exp, rel_tol=1e-9), (s, t, g, exp)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_dupe_ratio_property(spark, data):
    cases = [(data.draw(small_counts),) for _ in range(100)]
    rows = [(c, max(0, c - data.draw(st.integers(0, 10)))) for (c,) in cases]
    got = _eval_batch(
        spark, rows, "c long, d long",
        E.dupe_ratio("c", "d"),
    )
    for (c, d), g in zip(rows, got):
        exp = 0.0 if c == 0 else (c - d) / float(c)
        assert math.isclose(g, exp, rel_tol=1e-12), (c, d, g, exp)


def test_rerun_same_run_id_is_idempotent(spark, tmp_path):
    """Ledger re-write of a run id replaces rather than duplicates
    (DELETE+INSERT parity, aggregate_results.sql.j2:157-221)."""
    from datapact_spark.config import DataPactConfig, ValidationTask
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.sources.loader import TableResolver

    resolver = TableResolver(spark)
    resolver.register("t1", spark.createDataFrame([(1,), (2,)], "id long"))
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "r"))
    cfg = DataPactConfig(
        validations=[ValidationTask(task_key="x", source="t1", target="t1", count_tolerance=0.0)]
    )
    engine.run(cfg, job_name="j", run_id=99)
    engine.run(cfg, job_name="j", run_id=99)
    assert engine.ledger.run_results(99).count() == 1
