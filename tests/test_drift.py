"""Drift operator tests: PSI/KS vs a numpy reference implementation,
snapshot round-trip, and end-of-pipe integration in a task."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from datapact_spark.config import DataPactConfig, DriftCheck, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.operators.drift import (
    drift_metrics,
    histogram_snapshot,
)
from datapact_spark.sources.loader import TableResolver


def _np_psi_ks(a: np.ndarray, b: np.ndarray, bins: int, lo: float, hi: float):
    eps = 1e-6
    width = (hi - lo) / bins
    ba = np.clip(np.floor((a - lo) / width), 0, bins - 1).astype(int)
    bb = np.clip(np.floor((b - lo) / width), 0, bins - 1).astype(int)
    p = np.bincount(ba, minlength=bins) / len(a)
    q = np.bincount(bb, minlength=bins) / len(b)
    ps, qs = p + eps, q + eps
    psi = float(np.sum((ps - qs) * np.log(ps / qs)))
    ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
    return psi, ks


@pytest.fixture(scope="module")
def dists(spark):
    rng = np.random.RandomState(42)
    a = rng.normal(100, 10, 20000)
    b = rng.normal(110, 15, 20000)  # shifted + widened
    dfa = spark.createDataFrame([(float(x),) for x in a], "x double")
    dfb = spark.createDataFrame([(float(x),) for x in b], "x double")
    return a, b, dfa, dfb


def test_psi_matches_numpy(spark, dists):
    a, b, dfa, dfb = dists
    check = DriftCheck(column="x", metric="psi", bins=32)
    got = drift_metrics(dfa, dfb, check).collect()[0][f"drift_psi_x"]
    exp_psi, _ = _np_psi_ks(a, b, 32, a.min(), a.max())
    assert got == pytest.approx(exp_psi, rel=1e-9)


def test_ks_matches_numpy(spark, dists):
    a, b, dfa, dfb = dists
    check = DriftCheck(column="x", metric="ks", bins=32)
    got = drift_metrics(dfa, dfb, check).collect()[0][f"drift_ks_x"]
    _, exp_ks = _np_psi_ks(a, b, 32, a.min(), a.max())
    assert got == pytest.approx(exp_ks, rel=1e-9)


def test_identical_distribution_near_zero(spark, dists):
    _, _, dfa, _ = dists
    check = DriftCheck(column="x", metric="psi", bins=32)
    got = drift_metrics(dfa, dfa, check).collect()[0][f"drift_psi_x"]
    assert abs(got) < 1e-12


def test_snapshot_roundtrip(spark, dists, tmp_path):
    a, b, dfa, dfb = dists
    check = DriftCheck(column="x", metric="psi", bins=32)
    snap_path = str(tmp_path / "snap")
    histogram_snapshot(dfa, "x", bins=32).write.parquet(snap_path)
    snap = spark.read.parquet(snap_path)
    got = drift_metrics(None, dfb, check, snapshot=snap).collect()[0][f"drift_psi_x"]
    exp_psi, _ = _np_psi_ks(a, b, 32, a.min(), a.max())
    assert got == pytest.approx(exp_psi, rel=1e-9)


def test_drift_check_in_task(spark, dists, tmp_path):
    _, _, dfa, dfb = dists
    resolver = TableResolver(spark)
    resolver.register("src", dfa)
    resolver.register("tgt_same", dfa)
    resolver.register("tgt_shifted", dfb)
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "r"))
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="same", source="src", target="tgt_same",
                drift_checks=[{"column": "x", "metric": "psi", "threshold": 0.1}],
            ),
            ValidationTask(
                task_key="shifted", source="src", target="tgt_shifted",
                drift_checks=[{"column": "x", "metric": "psi", "threshold": 0.1}],
            ),
        ]
    )
    res = engine.run(cfg, job_name="drift")
    assert res.outcomes["same"].status == "SUCCESS"
    assert res.outcomes["shifted"].status == "FAILURE"
    p = json.loads(res.outcomes["shifted"].payload)
    assert p["drift_validation_x_psi"]["status"] == "FAIL"


def test_grouped_drift_per_partition(spark):
    """Per-group PSI: the drifted group fails, the stable group doesn't,
    and each group's value matches the numpy reference on that group."""
    import numpy as np
    from datapact_spark.config import DriftCheck

    rng = np.random.RandomState(7)
    a_stable = rng.normal(50, 5, 8000)
    a_drift = rng.normal(50, 5, 8000)
    b_drift = rng.normal(80, 20, 8000)
    src = spark.createDataFrame(
        [("g1", float(x)) for x in a_stable] + [("g2", float(x)) for x in a_drift],
        "grp string, x double",
    )
    tgt = spark.createDataFrame(
        [("g1", float(x)) for x in a_stable] + [("g2", float(x)) for x in b_drift],
        "grp string, x double",
    )
    check = DriftCheck(column="x", metric="psi", bins=32, threshold=0.2)
    rows = {
        r["grp"]: r["drift_psi_x"]
        for r in drift_metrics(src, tgt, check, ["grp"]).collect()
    }
    assert abs(rows["g1"]) < 1e-12
    exp, _ = _np_psi_ks(a_drift, b_drift, 32, a_drift.min(), a_drift.max())
    assert rows["g2"] == pytest.approx(exp, rel=1e-9)
    assert rows["g2"] > 0.2


def test_grouped_drift_in_partitioned_task(spark, tmp_path):
    import numpy as np
    from datapact_spark.config import ValidationTask
    from datapact_spark.plans.partitioned import compile_partition_verdicts
    from datapact_spark.sources.loader import TableResolver

    rng = np.random.RandomState(9)
    src = spark.createDataFrame(
        [("g1", float(x)) for x in rng.normal(10, 1, 4000)]
        + [("g2", float(x)) for x in rng.normal(10, 1, 4000)],
        "grp string, x double",
    )
    tgt = src.withColumn(
        "x",
        F.when(F.col("grp") == "g2", F.col("x") * 3).otherwise(F.col("x")),
    )
    resolver = TableResolver(spark)
    resolver.register("s", src)
    resolver.register("t", tgt)
    task = ValidationTask(
        task_key="gd", source="s", target="t", partition_by=["grp"],
        count_tolerance=0.0,
        drift_checks=[{"column": "x", "metric": "psi", "threshold": 0.2}],
    )
    rows = {r["grp"]: r for r in compile_partition_verdicts(spark, task, resolver).collect()}
    assert rows["g1"]["drift_x_psi_passed"] is True
    assert rows["g2"]["drift_x_psi_passed"] is False
    assert rows["g2"]["overall_validation_passed"] is False


def test_snapshot_baseline_lifecycle(spark, dists, tmp_path):
    """Snapshot-mode drift: run 1 bootstraps the baseline (vacuous
    pass + snapshot persisted); run 2 with a drifted source fails
    against the stored baseline; run 3 with the original source passes."""
    from datapact_spark.engine import DataPactEngine

    a, b, dfa, dfb = dists
    resolver = TableResolver(spark)
    resolver.register("cur", dfa)
    resolver.register("tgt_unused", dfa)
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "r"))

    def cfg():
        return DataPactConfig(
            validations=[
                ValidationTask(
                    task_key="snap", source="cur", target="tgt_unused",
                    drift_checks=[{
                        "column": "x", "metric": "psi",
                        "threshold": 0.1, "baseline": "snapshot",
                    }],
                )
            ]
        )

    r1 = engine.run(cfg(), job_name="d1")
    assert r1.outcomes["snap"].status == "SUCCESS"  # bootstrap
    assert engine.baselines.exists("snap", "x")

    resolver.register("cur", dfb)  # drifted distribution arrives
    r2 = engine.run(cfg(), job_name="d2")
    assert r2.outcomes["snap"].status == "FAILURE"
    p = json.loads(r2.outcomes["snap"].payload)
    assert p["drift_validation_x_psi"]["status"] == "FAIL"

    resolver.register("cur", dfa)  # back to baseline distribution
    r3 = engine.run(cfg(), job_name="d3")
    assert r3.outcomes["snap"].status == "SUCCESS"


def test_snapshot_sketch_family_mismatch_is_clear_error(spark, dists, tmp_path):
    """Flipping a DriftCheck between sketch families across runs must
    raise a clear 'sketch family' error against the stored baseline,
    not an opaque missing-column AnalysisException."""
    from datapact_spark.engine import DataPactEngine

    a, b, dfa, dfb = dists
    resolver = TableResolver(spark)
    resolver.register("cur", dfa)
    resolver.register("tgt_unused", dfa)
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "r"))

    def cfg(sketch):
        return DataPactConfig(
            validations=[
                ValidationTask(
                    task_key="snap", source="cur", target="tgt_unused",
                    drift_checks=[{
                        "column": "x", "metric": "psi", "threshold": 0.1,
                        "baseline": "snapshot", "sketch": sketch,
                    }],
                )
            ]
        )

    r1 = engine.run(cfg("histogram"), job_name="d1")  # bootstraps histogram
    assert r1.outcomes["snap"].status == "SUCCESS"
    r2 = engine.run(cfg("tdigest"), job_name="d2", raise_on_failure=False)
    out = r2.outcomes["snap"]
    assert out.status == "ERROR"
    # the error names the stored family and the configured one — not an
    # opaque missing-column AnalysisException
    assert "sketch family 'histogram'" in out.error
    assert "sketch family 'tdigest'" in out.error


def test_categorical_drift_two_sample(spark):
    from datapact_spark.config import DriftCheck
    from datapact_spark.operators.drift import (
        OTHER_CATEGORY,
        categorical_drift_terms,
    )

    h = F.pmod(F.xxhash64("id"), F.lit(100))
    src = spark.range(20_000).select(
        F.when(h < 60, F.lit("A")).when(h < 90, F.lit("B"))
        .when(h < 96, F.lit("C")).otherwise(F.lit("D")).alias("cat")
    )
    # same distribution → ~0 drift on both metrics
    same = DriftCheck(column="cat", metric="tv", kind="categorical", bins=3)
    v0 = drift_metrics(src, src, same).collect()[0][0]
    assert v0 == 0.0
    # swap A and C mass → large drift
    tgt = src.replace({"A": "C", "C": "A"}, subset=["cat"])
    v1 = drift_metrics(src, tgt, same).collect()[0][0]
    assert v1 > 0.5  # TV between the two is |pA-qA| etc ~ 0.54
    psi = DriftCheck(column="cat", metric="psi", kind="categorical", bins=3)
    assert drift_metrics(src, tgt, psi).collect()[0][0] > 1.0
    # top_k=3 folds D (the rarest) into __OTHER__
    terms = {r["category"]: r for r in categorical_drift_terms(src, tgt, "cat", 3).collect()}
    assert OTHER_CATEGORY in terms and set(terms) == {"A", "B", "C", OTHER_CATEGORY}
    # masses sum to 1 on each side
    assert sum(r["p"] for r in terms.values()) == pytest.approx(1.0)


def test_categorical_snapshot_lifecycle_and_family_guard(spark, tmp_path):
    from datapact_spark.engine import DataPactEngine

    h = F.pmod(F.xxhash64("id"), F.lit(10))
    base = spark.range(5000).select(
        F.when(h < 7, F.lit("en")).otherwise(F.lit("de")).alias("lang"),
        (F.col("id") % 100).cast("double").alias("x"),
    )
    drifted = spark.range(5000).select(
        F.when(h < 3, F.lit("en")).otherwise(F.lit("de")).alias("lang"),
        (F.col("id") % 100).cast("double").alias("x"),
    )
    resolver = TableResolver(spark)
    resolver.register("cur", base)
    resolver.register("tgt_unused", base)
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "r"))

    def cfg(kind="categorical", column="lang", metric="tv"):
        return DataPactConfig(validations=[ValidationTask(
            task_key="cat_snap", source="cur", target="tgt_unused",
            drift_checks=[{
                "column": column, "metric": metric, "threshold": 0.1,
                "baseline": "snapshot", "kind": kind, "bins": 8,
            }],
        )])

    r1 = engine.run(cfg(), job_name="boot")
    assert r1.outcomes["cat_snap"].status == "SUCCESS"
    snap = engine.baselines.read("cat_snap", "lang")
    assert {"category", "cnt"} <= set(snap.columns)
    assert engine.run(cfg(), job_name="same").passed
    resolver.register("cur", drifted)
    r3 = engine.run(cfg(), job_name="drifted")
    assert r3.failed_task_keys == ["cat_snap"]
    # family guard: flipping the stored categorical baseline to a
    # numeric check must fail with the clear sketch-family error
    r4 = engine.run(
        cfg(kind="numeric", metric="psi"), job_name="flip", raise_on_failure=False
    )
    assert r4.outcomes["cat_snap"].status == "ERROR"
    assert "sketch family 'categorical'" in r4.outcomes["cat_snap"].error


def test_grouped_categorical_drift(spark):
    h = F.pmod(F.xxhash64("id"), F.lit(10))
    src = spark.range(30_000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.when(h < 5, F.lit("x")).otherwise(F.lit("y")).alias("cat"),
    )
    tgt = src.withColumn(
        "cat",
        F.when(
            (F.col("grp") == "1") & (F.col("cat") == "x"), F.lit("y")
        ).otherwise(F.col("cat")),
    )
    rows = {}
    for metric in ("psi", "tv"):
        check = DriftCheck(column="cat", metric=metric, kind="categorical", bins=20)
        for r in drift_metrics(src, tgt, check, ["grp"]).collect():
            rows.setdefault(r["grp"], {})[metric] = r[f"drift_{metric}_cat"]
    assert rows["1"]["tv"] > 0.3 and rows["1"]["psi"] > 0.5
    assert all(rows[g]["tv"] == 0.0 for g in ("0", "2"))


def test_categorical_config_validation(spark):
    from datapact_spark.config import DriftCheck

    with pytest.raises(Exception, match="categorical-only"):
        DriftCheck(column="x", metric="tv", kind="numeric")
    with pytest.raises(Exception, match="no sketch family"):
        DriftCheck(column="x", metric="psi", kind="categorical", sketch="tdigest")
    with pytest.raises(Exception, match="psi.*tv|'psi' or 'tv'"):
        DriftCheck(column="x", metric="ks", kind="categorical")


def test_categorical_drift_monitor_stream(spark, tmp_path):
    """Streaming categorical monitor: bootstrap frame, in-distribution
    pass, shifted batch fails; running baseline folds counts
    replay-safely; novel categories pool into __OTHER__."""
    from datapact_spark.ledger import BaselineStore
    from datapact_spark.streaming.incremental import (
        categorical_drift_monitor_stream,
    )

    src_dir = str(tmp_path / "src")
    h = F.pmod(F.xxhash64("id"), F.lit(10))
    # batches 0/1: 70/30 en/de; batch 2: 20/50/30 en/de/NOVEL
    for lo, hi, mk in ((0, 20_000, None), (20_000, 40_000, None),
                      (40_000, 60_000, "zz")):
        df = spark.range(lo, hi).select(
            F.when(h < (2 if mk else 7), F.lit("en"))
            .when(h < 7, F.lit(mk) if mk else F.lit("en"))
            .otherwise(F.lit("de")).alias("lang")
        )
        df.coalesce(1).write.mode("append").parquet(src_dir)

    baselines = BaselineStore(spark, str(tmp_path / "res"))
    verdicts_path = str(tmp_path / "verdicts")
    stream = (
        spark.readStream.schema("lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = categorical_drift_monitor_stream(
        spark, stream, "lang", baselines, "cmon", str(tmp_path / "ckpt"),
        verdicts_path, metric="tv", threshold=0.1, top_k=4,
    )
    q.awaitTermination(120)
    v = {r["batch_id"]: r for r in spark.read.parquet(verdicts_path).collect()}
    assert len(v) == 3
    assert v[0]["passed"] and v[0]["tv"] == 0.0          # bootstrap
    assert v[1]["passed"] and v[1]["tv"] < 0.02          # same mix
    assert not v[2]["passed"] and v[2]["tv"] > 0.2       # shifted + novel
    # running baseline folded all batches; novel category sits in OTHER
    snap = {r["category"]: r["cnt"] for r in baselines.read("cmon", "lang__cat_stream").collect()}
    assert sum(snap.values()) == 60_000
    from datapact_spark.operators.drift import OTHER_CATEGORY
    assert snap.get(OTHER_CATEGORY, 0) >= 10_000  # the zz mass
    # replay on the same checkpoint: no duplicate verdicts, no re-merge
    q2 = categorical_drift_monitor_stream(
        spark, stream, "lang", baselines, "cmon", str(tmp_path / "ckpt"),
        verdicts_path, metric="tv", threshold=0.1, top_k=4,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(verdicts_path).count() == 3
    snap2 = {r["category"]: r["cnt"] for r in baselines.read("cmon", "lang__cat_stream").collect()}
    assert sum(snap2.values()) == 60_000


def test_categorical_monitor_reads_baseline_once_per_batch(spark, tmp_path):
    """A non-bootstrap categorical batch reads the stored baseline once
    and scores and folds its collected rows on the driver: its stream
    run is 9 Spark jobs at local[4]. Collecting a frame of those rows
    again in score, and the folded baseline before its write, made it
    11; reading the stored baseline again in score and fold, 13."""
    from datapact_spark.ledger import BaselineStore
    from datapact_spark.streaming.incremental import (
        categorical_drift_monitor_stream,
    )

    src_dir = str(tmp_path / "src")
    h = F.pmod(F.xxhash64("id"), F.lit(10))
    baselines = BaselineStore(spark, str(tmp_path / "res"))
    tracker = spark.sparkContext.statusTracker()

    def run_batch(lo: int, hi: int) -> int:
        spark.range(lo, hi).select(
            F.when(h < 7, F.lit("en")).otherwise(F.lit("de")).alias("lang")
        ).coalesce(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema("lang string").parquet(src_dir)
        q = categorical_drift_monitor_stream(
            spark, stream, "lang", baselines, "jobs", str(tmp_path / "ckpt"),
            str(tmp_path / "verdicts"), metric="tv", threshold=0.1, top_k=4,
        )
        q.awaitTermination(120)
        return len(tracker.getJobIdsForGroup(str(q.runId)))

    run_batch(0, 2_000)  # bootstrap
    assert run_batch(2_000, 4_000) <= 9
    v = spark.read.parquet(str(tmp_path / "verdicts")).collect()
    assert sorted(r["batch_id"] for r in v) == [0, 1]
    snap = baselines.read("jobs", "lang__cat_stream").collect()
    assert sum(r["cnt"] for r in snap) == 4_000
    assert {r["last_batch_id"] for r in snap} == {1}


# ---------------------------------------------------------------------------
# one builder per sketch family: task level (no group keys), per group
# and snapshot mode must agree
# ---------------------------------------------------------------------------

_FAMILY_CHECKS = {
    "histogram": dict(column="x", bins=16),
    "tdigest": dict(column="x", sketch="tdigest", bins=8),
    "categorical": dict(column="c", kind="categorical", bins=4),
}


@pytest.fixture(scope="module")
def family_frames(spark):
    """Two groups with a numeric ``x`` and a six-valued ``c``, and a
    copy drifted on both columns."""
    cats = F.array(*[F.lit(v) for v in "abcdef"])
    source = spark.range(4000).select(
        (F.col("id") % 2).alias("grp"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("x"),
        F.element_at(cats, (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(6)) + 1).cast("int"))
        .alias("c"),
    )
    target = source.select(
        "grp",
        (F.col("x") * 1.3 + 5.0).alias("x"),
        F.when(F.col("c") == "a", F.lit("b")).otherwise(F.col("c")).alias("c"),
    )
    return source, target


@pytest.mark.parametrize(
    "family,metric",
    [(f, m) for f in ("histogram", "tdigest") for m in ("psi", "ks")]
    + [("categorical", "psi"), ("categorical", "tv")],
)
def test_task_level_drift_equals_one_group_drift(spark, family_frames, family, metric):
    """A mergeable summary over no group keys is the global summary:
    task-level drift equals per-group drift on a one-group table,
    bitwise."""
    source, target = family_frames
    check = DriftCheck(metric=metric, **_FAMILY_CHECKS[family])
    name = f"drift_{metric}_{check.column}"
    (task,) = drift_metrics(source, target, check).collect()
    one = F.lit("all").alias("g")
    (grouped,) = drift_metrics(
        source.select(one, "*"), target.select(one, "*"), check, ["g"]
    ).collect()
    assert task[name] > 0.0  # a real comparison, not a vacuous 0
    assert grouped[name] == task[name]


@pytest.mark.parametrize("family", list(_FAMILY_CHECKS))
def test_snapshot_compare_equals_two_sample(spark, family_frames, family, tmp_path):
    """Snapshot mode is the two-sample builder fed the stored baseline:
    a compare against ``baseline_snapshot(source)``, written and read
    back, equals the two-sample compare against ``source``, bitwise."""
    from datapact_spark.operators.drift import baseline_snapshot

    source, target = family_frames
    check = DriftCheck(**_FAMILY_CHECKS[family])
    name = f"drift_{check.metric}_{check.column}"
    baseline_snapshot(source, check).write.parquet(str(tmp_path / "snap"))
    snap = spark.read.parquet(str(tmp_path / "snap"))
    got = drift_metrics(None, target, check, snapshot=snap).collect()[0][name]
    want = drift_metrics(source, target, check).collect()[0][name]
    assert want > 0.0 and got == want


@pytest.mark.parametrize(
    "mode",
    ["task", "group", "snapshot", "baseline_task", "baseline_group", "baseline_snapshot"],
)
@pytest.mark.parametrize("family", list(_FAMILY_CHECKS))
def test_all_null_side_fails_drift(spark, family_frames, family, mode, tmp_path):
    """An all-NULL side is zero mass — maximal drift — so the check
    FAILs on every family and path, whichever side it is. The plain
    modes make the compared side all NULL (the task-level and snapshot
    t-digest paths used to score it NULL, which passed); the
    ``baseline_`` modes make the baseline side all NULL: the source in
    two-sample and per-group mode (where a group with no baseline rows
    at all is zero mass too), the stored snapshot in snapshot mode
    (t-digest read NULL there, and a snapshot of an
    all-NULL source stored no rows, so every later compare passed)."""
    from datapact_spark.ledger import BaselineStore
    from datapact_spark.operators.drift import baseline_snapshot
    from datapact_spark.plans.compiler import compile_task
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    source, _ = family_frames
    nulls = source.select(
        "grp",
        F.lit(None).cast("double").alias("x"),
        F.lit(None).cast("string").alias("c"),
    )
    null_baseline = mode.startswith("baseline_")
    mode = mode.removeprefix("baseline_")
    # (baseline side, compared side); per group, the NULL baseline also
    # lacks group 1's rows altogether
    base_df, other_df = (nulls, source) if null_baseline else (source, nulls)
    if null_baseline and mode == "group":
        base_df = nulls.where(F.col("grp") == 0)
    baseline = "snapshot" if mode == "snapshot" else "target"
    check = DriftCheck(baseline=baseline, **_FAMILY_CHECKS[family])
    task = ValidationTask(
        task_key=f"nulls_{family}_{mode}_{null_baseline}", source="src", target="tgt",
        drift_checks=[check], partition_by=["grp"] if mode == "group" else None,
    )
    resolver = TableResolver(spark)
    resolver.register("src", base_df)
    resolver.register("tgt", other_df)
    if mode == "group":
        rows = compile_partition_verdicts(spark, task, resolver).collect()
        assert len(rows) == 2
        assert not any(r[f"drift_{check.column}_{check.metric}_passed"] for r in rows)
        return
    store = None
    if mode == "snapshot":
        # the snapshot compares the task's source against the baseline
        store = BaselineStore(spark, str(tmp_path / "res"))
        store.write(task.task_key, check.column, baseline_snapshot(base_df, check))
        resolver.register("src", other_df)
    row = compile_task(spark, task, resolver, baseline_store=store).metrics_df.collect()[0]
    drift = json.loads(row["result_payload"])[
        f"drift_validation_{check.column}_{check.metric}"
    ]
    assert drift["status"] == "FAIL", drift
    assert not row["overall_validation_passed"]
