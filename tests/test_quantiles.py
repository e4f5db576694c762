"""t-digest quantile sketch: accuracy, mergeability, drift wiring.

North-star (BASELINE.json): distribution drift via quantile sketches
compared against baseline snapshots with PSI/KS thresholds.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from datapact_spark.operators.quantiles import (
    _digest_cdf,
    _digest_quantile,
    _merge_centroids,
    exact_quantile_drift_terms,
    merge_tdigests,
    tdigest_drift,
    tdigest_quantiles,
    tdigest_sketch,
)

PROBS = [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]


def _np_digest(values: np.ndarray, delta: float = 200.0):
    m, w = _merge_centroids(values, np.ones_like(values), delta)
    return m, w, float(w.sum()), float(values.min()), float(values.max())


# ---------------------------------------------------------------------------
# numpy core
# ---------------------------------------------------------------------------


def test_merge_centroids_bounded_size_and_mass():
    rng = np.random.default_rng(7)
    v = rng.lognormal(0.0, 2.0, 100_000)
    m, w = _merge_centroids(v, np.ones_like(v), delta=200.0)
    assert len(m) <= 200 / 2 + 2
    assert w.sum() == pytest.approx(100_000)
    assert np.all(np.diff(m) >= 0)  # centroids sorted


def test_digest_quantile_accuracy_lognormal():
    rng = np.random.default_rng(11)
    v = rng.lognormal(0.0, 2.0, 200_000)
    dig = _np_digest(v, delta=200.0)
    exact = np.quantile(v, PROBS)
    est = _digest_quantile(np.array(PROBS), *dig)
    # rank error: the estimated quantile's true CDF position must be
    # within ~1% of the requested probability (t-digest's guarantee is
    # on rank, not value — value error is unbounded for heavy tails)
    sorted_v = np.sort(v)
    for p, e in zip(PROBS, est):
        rank = np.searchsorted(sorted_v, e) / len(v)
        assert abs(rank - p) < 0.01, (p, rank)
    # mid quantiles also value-accurate
    mid = [2, 3, 4, 5, 6]
    assert np.allclose(est[mid], exact[mid], rtol=0.02)


def test_digest_tails_are_exact():
    rng = np.random.default_rng(3)
    v = rng.normal(0, 1, 50_000)
    dig = _np_digest(v)
    est = _digest_quantile(np.array([0.0, 1.0]), *dig)
    assert est[0] == v.min() and est[1] == v.max()


def test_digest_cdf_inverts_quantile():
    rng = np.random.default_rng(5)
    v = rng.gamma(2.0, 3.0, 80_000)
    dig = _np_digest(v)
    qs = _digest_quantile(np.array(PROBS), *dig)
    back = _digest_cdf(qs, *dig)
    assert np.allclose(back, PROBS, atol=0.01)


def test_merge_two_digests_matches_single_pass():
    rng = np.random.default_rng(13)
    a = rng.normal(0, 1, 60_000)
    b = rng.normal(3, 2, 60_000)
    ma, wa = _merge_centroids(a, np.ones_like(a), 200.0)
    mb, wb = _merge_centroids(b, np.ones_like(b), 200.0)
    mm, wm = _merge_centroids(np.r_[ma, mb], np.r_[wa, wb], 200.0)
    both = np.r_[a, b]
    dig_m = (mm, wm, float(wm.sum()), float(both.min()), float(both.max()))
    est = _digest_quantile(np.array(PROBS), *dig_m)
    exact = np.quantile(both, PROBS)
    spread = both.max() - both.min()
    assert np.all(np.abs(est - exact) < 0.02 * spread)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_df(spark):
    # deterministic lognormal-ish column: exp of a uniform-driven normal
    # approximation built from xxhash64 bits (no Python in the data path)
    df = spark.range(100_000).select(
        (F.col("id") % 4).cast("int").alias("grp"),
        F.exp(
            (F.pmod(F.xxhash64("id"), F.lit(100_000)) / F.lit(50_000.0) - 1.0) * 3.0
        ).alias("v"),
    )
    return df.persist()


def test_tdigest_sketch_spark_matches_numpy_accuracy(spark, skewed_df):
    dig = tdigest_sketch(skewed_df, "v", delta=200.0)
    rows = dig.collect()
    assert len(rows) == 1
    r = rows[0]
    v = np.array([x["v"] for x in skewed_df.select("v").collect()])
    est = _digest_quantile(
        np.array(PROBS),
        np.array(r["means"]), np.array(r["weights"]),
        r["total"], r["vmin"], r["vmax"],
    )
    sorted_v = np.sort(v)
    for p, e in zip(PROBS, est):
        rank = np.searchsorted(sorted_v, e) / len(v)
        assert abs(rank - p) < 0.015, (p, rank)
    assert r["total"] == pytest.approx(100_000)
    assert len(r["means"]) <= 200 / 2 + 2


def test_tdigest_quantiles_operator(spark, skewed_df):
    dig = tdigest_sketch(skewed_df, "v", delta=200.0)
    out = {
        row["prob"]: row["quantile"]
        for row in tdigest_quantiles(dig, PROBS).collect()
    }
    v = np.sort(np.array([x["v"] for x in skewed_df.select("v").collect()]))
    for p in PROBS:
        rank = np.searchsorted(v, out[p]) / len(v)
        assert abs(rank - p) < 0.015


def test_tdigest_grouped(spark, skewed_df):
    dig = tdigest_sketch(skewed_df, "v", delta=100.0, group_cols=["grp"])
    rows = {r["grp"]: r for r in dig.collect()}
    assert set(rows) == {0, 1, 2, 3}
    for g, r in rows.items():
        assert r["total"] == pytest.approx(25_000)
        n_v = np.sort(
            np.array(
                [x["v"] for x in skewed_df.where(F.col("grp") == g).select("v").collect()]
            )
        )
        est = _digest_quantile(
            np.array([0.5]), np.array(r["means"]), np.array(r["weights"]),
            r["total"], r["vmin"], r["vmax"],
        )[0]
        rank = np.searchsorted(n_v, est) / len(n_v)
        assert abs(rank - 0.5) < 0.02


def test_merge_tdigests_operator(spark, skewed_df):
    a = tdigest_sketch(skewed_df.where("id % 2 = 0"), "v")
    b = tdigest_sketch(skewed_df.where("id % 2 = 1"), "v")
    merged = merge_tdigests(a, b).collect()[0]
    assert merged["total"] == pytest.approx(100_000)
    whole = tdigest_sketch(skewed_df, "v").collect()[0]
    est_m = _digest_quantile(
        np.array([0.5]), np.array(merged["means"]), np.array(merged["weights"]),
        merged["total"], merged["vmin"], merged["vmax"],
    )[0]
    est_w = _digest_quantile(
        np.array([0.5]), np.array(whole["means"]), np.array(whole["weights"]),
        whole["total"], whole["vmin"], whole["vmax"],
    )[0]
    assert est_m == pytest.approx(est_w, rel=0.02)


def test_tdigest_drift_zero_on_identical(spark, skewed_df):
    dig = tdigest_sketch(skewed_df, "v")
    row = tdigest_drift(dig, dig, bins=10).collect()[0]
    assert row["ks"] == pytest.approx(0.0, abs=1e-12)
    assert row["psi"] == pytest.approx(0.0, abs=1e-9)


def test_tdigest_drift_detects_shift(spark, skewed_df):
    dig_p = tdigest_sketch(skewed_df, "v")
    shifted = skewed_df.select("grp", (F.col("v") * 2.0 + 1.0).alias("v"))
    dig_q = tdigest_sketch(shifted, "v")
    row = tdigest_drift(dig_p, dig_q, bins=10).collect()[0]
    assert row["ks"] > 0.2
    assert row["psi"] > 0.5
    # and matches the exact two-sample KS within sketch tolerance
    v = np.sort(np.array([x["v"] for x in skewed_df.select("v").collect()]))
    v2 = np.sort(v * 2.0 + 1.0)
    grid = np.unique(np.r_[v, v2])[::97]
    ks_exact = np.max(
        np.abs(
            np.searchsorted(v, grid, side="right") / len(v)
            - np.searchsorted(v2, grid, side="right") / len(v2)
        )
    )
    assert row["ks"] == pytest.approx(ks_exact, abs=0.05)


def test_drift_check_tdigest_two_sample_e2e(spark, skewed_df):
    from datapact_spark.config import DriftCheck
    from datapact_spark.operators.drift import drift_metrics
    from datapact_spark.operators.quantiles import tdigest_drift, tdigest_sketch

    check = DriftCheck(column="v", metric="ks", sketch="tdigest", bins=10)
    dig_s = tdigest_sketch(skewed_df, "v", check.delta)
    dig_t = tdigest_sketch(skewed_df.select("grp", (F.col("v") + 5.0).alias("v")), "v", check.delta)
    ks = tdigest_drift(dig_s, dig_t, bins=check.bins).collect()[0]["ks"]
    assert ks > check.threshold  # a +5 shift on this scale must trip 0.2
    # histogram path still works alongside (API unchanged)
    hist_check = DriftCheck(column="v", metric="ks", bins=32)
    assert drift_metrics(
        skewed_df, skewed_df, hist_check
    ).collect()[0][0] == pytest.approx(0.0, abs=1e-12)


def _exact_equal_mass_psi_ks(base: np.ndarray, now: np.ndarray, bins: int):
    """The oracle of ``sketch='tdigest'``: edges at the baseline's exact
    quantiles, open tails, a value in bin 1 + #(interior edges below
    it), and the same eps-smoothed PSI terms as the shared tail."""
    eps = 1e-6
    inner = np.quantile(base, np.linspace(0.0, 1.0, bins + 1))[1:-1]
    p = np.bincount(np.searchsorted(inner, base), minlength=bins) / len(base)
    q = np.bincount(np.searchsorted(inner, now), minlength=bins) / len(now)
    psi = float(np.sum((p + eps - (q + eps)) * np.log((p + eps) / (q + eps))))
    ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
    return psi, ks


def test_tdigest_drift_matches_exact_equal_mass_oracle(spark):
    """t-digest PSI/KS track exact equal-mass binning on 20k lognormal
    rows against a x1.05 scale shift, a mu+0.2 shift and sigma 1.2 —
    task level and per group (one shift per group)."""
    from datapact_spark.config import DriftCheck
    from datapact_spark.operators.drift import drift_metrics

    rng = np.random.default_rng(7)
    n = 20_000
    base = rng.lognormal(0.0, 1.0, n)
    shifts = {
        "scale": base * 1.05,
        "mu": rng.lognormal(0.2, 1.0, n),
        "sigma": rng.lognormal(0.0, 1.2, n),
    }

    def frame(groups: dict):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {"g": np.repeat(list(groups), [len(v) for v in groups.values()]),
                 "x": np.concatenate(list(groups.values()))}
            )
        )

    def check_close(metric, got, base_v, now_v):
        psi, ks = _exact_equal_mass_psi_ks(base_v, now_v, 10)
        if metric == "psi":
            # 2.5 %, floored at 1e-4 absolute: at 20k rows a PSI near
            # 0.002 (the x1.05 case) moves by ~7e-5 with the partials'
            # arrival order, 3 % of its value
            assert got == pytest.approx(psi, rel=0.025, abs=1e-4), (got, psi)
        else:
            assert got == pytest.approx(ks, abs=0.0015), (got, ks)

    src = frame({"b": base})
    for metric in ("psi", "ks"):
        check = DriftCheck(column="x", metric=metric, sketch="tdigest", bins=10)
        for name, now in shifts.items():
            (row,) = drift_metrics(src, frame({"b": now}), check).collect()
            check_close(metric, row[f"drift_{metric}_x"], base, now)

    # two groups, each with its own baseline and its own shift
    base2 = rng.lognormal(1.0, 0.5, n)
    now2 = rng.lognormal(1.2, 0.5, n)
    for metric in ("psi", "ks"):
        check = DriftCheck(column="x", metric=metric, sketch="tdigest", bins=10)
        rows = drift_metrics(
            frame({"a": base, "b": base2}),
            frame({"a": shifts["scale"], "b": now2}),
            check,
            ["g"],
        ).collect()
        got = {r["g"]: r[f"drift_{metric}_x"] for r in rows}
        check_close(metric, got["a"], base, shifts["scale"])
        check_close(metric, got["b"], base2, now2)


def test_engine_tdigest_snapshot_lifecycle(spark, tables, tmp_path):
    """Bootstrap run persists the digest; a later drifted run compares
    against it and fails the threshold (the north-star snapshot
    lifecycle on the quantile-sketch path)."""
    from datapact_spark.config import DataPactConfig, ValidationTask
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.sources.loader import TableResolver

    def cfg():
        return DataPactConfig(
            validations=[
                ValidationTask(
                    task_key="td_snap",
                    source="orders",
                    target="orders",
                    primary_keys=["o_orderkey"],
                    drift_checks=[
                        {
                            "column": "o_totalprice",
                            "metric": "ks",
                            "threshold": 0.05,
                            "sketch": "tdigest",
                            "bins": 10,
                            "baseline": "snapshot",
                        }
                    ],
                )
            ]
        )

    results = str(tmp_path / "res")
    resolver = TableResolver(spark)
    resolver.register("orders", tables["orders"])
    engine = DataPactEngine(spark, resolver, results_path=results)
    r1 = engine.run(cfg(), job_name="boot")
    assert r1.passed
    # baseline digest persisted with the digest schema
    snap = engine.baselines.read("td_snap", "o_totalprice")
    assert {"means", "weights", "total", "vmin", "vmax"} <= set(snap.columns)
    # second run on the same data: no drift
    assert engine.run(cfg(), job_name="same").passed
    # third run against a drifted source: fails the ks threshold
    resolver.register(
        "orders",
        tables["orders"].withColumn("o_totalprice", F.col("o_totalprice") * 3.0),
    )
    r3 = engine.run(cfg(), job_name="drifted")
    assert r3.failed_task_keys == ["td_snap"]


def test_exact_quantile_drift_terms(spark, tables):
    orders = tables["orders"]
    probs = [0.1, 0.25, 0.5, 0.75, 0.9]
    out = exact_quantile_drift_terms(
        orders,
        orders.where("o_orderpriority like '1%'"),
        "o_totalprice",
        probs,
    ).collect()
    assert [r["prob"] for r in out] == probs
    # exact percentile parity with numpy's linear interpolation
    v = np.array([r["o_totalprice"] for r in orders.select("o_totalprice").collect()], dtype=float)
    for r in out:
        assert r["q_source"] == pytest.approx(
            float(np.quantile(v, r["prob"])), rel=1e-12
        )
    # running sum is the ordered prefix sum of the terms
    run = 0.0
    for r in out:
        run += r["w1_term"]
        assert r["w1_running"] == pytest.approx(run, rel=1e-12)
        assert r["w1_term"] >= 0.0


def _grouped_tdigest_drift(source, target, bins=10):
    return tdigest_drift(
        tdigest_sketch(source, "v", group_cols=["grp"]),
        tdigest_sketch(target, "v", group_cols=["grp"]),
        bins,
        ["grp"],
    )


def test_grouped_tdigest_drift(spark, skewed_df):
    # drift only group 2: scale its values; other groups identical
    target = skewed_df.select(
        "grp",
        F.when(F.col("grp") == 2, F.col("v") * 4.0).otherwise(F.col("v")).alias("v"),
    )
    out = {
        r["grp"]: (r["psi"], r["ks"])
        for r in _grouped_tdigest_drift(skewed_df, target, bins=10).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    for g in (0, 1, 3):
        assert out[g][1] < 0.02, (g, out[g])
    # v is log-uniform on [-3, 3], so x4 is a ln(4)/6 = 0.231 KS shift
    assert out[2][1] == pytest.approx(math.log(4.0) / 6.0, abs=0.03)
    assert out[2][0] > 0.2


def test_grouped_tdigest_drift_missing_group_is_max_drift(spark, skewed_df):
    target = skewed_df.where(F.col("grp") != 1)
    out = {
        r["grp"]: r["ks"]
        for r in _grouped_tdigest_drift(skewed_df, target, bins=10).collect()
    }
    assert out[1] > 0.9  # all target mass missing
    assert out[0] < 0.02


def test_partitioned_verdicts_tdigest_drift(spark, tables, tmp_path):
    """Per-partition verdicts with sketch=tdigest: only the drifted
    partition fails its drift check."""
    from datapact_spark.config import ValidationTask
    from datapact_spark.plans.partitioned import compile_partition_verdicts
    from datapact_spark.sources.loader import TableResolver

    orders = tables["orders"]
    drifted = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority").startswith("1"), F.col("o_totalprice") * 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    resolver = TableResolver(spark)
    resolver.register("src", orders)
    resolver.register("tgt", drifted)
    task = ValidationTask(
        task_key="td_part",
        source="src",
        target="tgt",
        primary_keys=["o_orderkey"],
        count_tolerance=0.0,
        partition_by=["o_orderpriority"],
        drift_checks=[
            {
                "column": "o_totalprice",
                "metric": "ks",
                "threshold": 0.1,
                "sketch": "tdigest",
                "bins": 10,
            }
        ],
    )
    rows = compile_partition_verdicts(spark, task, resolver).collect()
    by_grp = {r["o_orderpriority"]: r for r in rows}
    assert len(by_grp) == 5
    for grp, r in by_grp.items():
        expect_fail = grp.startswith("1")
        assert r["drift_o_totalprice_ks_passed"] != expect_fail, (
            grp, r["drift_o_totalprice_ks_passed"]
        )
        assert r["overall_validation_passed"] != expect_fail


def test_config_rejects_bad_sketch():
    from datapact_spark.config import DriftCheck

    with pytest.raises(ValueError):
        DriftCheck(column="x", sketch="histgram")


def test_drift_monitor_stream(spark, tmp_path):
    """Continuous drift monitor: bootstrap, in-distribution pass,
    drifted batch fails; baseline folds batches replay-safely."""
    from datapact_spark.ledger import BaselineStore
    from datapact_spark.streaming.incremental import drift_monitor_stream

    src_dir = str(tmp_path / "src")
    # three single-file batches: two in-distribution, one shifted
    base = spark.range(20_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("v")
    )
    base.coalesce(1).write.mode("append").parquet(src_dir)
    spark.range(20_000, 40_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("v")
    ).coalesce(1).write.mode("append").parquet(src_dir)
    spark.range(40_000, 60_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0 + 200.0).alias("v")
    ).coalesce(1).write.mode("append").parquet(src_dir)

    baselines = BaselineStore(spark, str(tmp_path / "res"))
    verdicts_path = str(tmp_path / "verdicts")
    seen = []
    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = drift_monitor_stream(
        spark, stream, "v", baselines, "mon", str(tmp_path / "ckpt"),
        verdicts_path, metric="ks", threshold=0.1,
        on_batch=lambda b, m, ok: seen.append((b, ok)),
    )
    q.awaitTermination(120)
    verdicts = {
        r["batch_id"]: r for r in spark.read.parquet(verdicts_path).collect()
    }
    assert len(verdicts) == 3
    assert verdicts[0]["passed"] and verdicts[0]["ks"] == 0.0  # bootstrap
    assert verdicts[1]["passed"] and verdicts[1]["ks"] < 0.05
    assert not verdicts[2]["passed"] and verdicts[2]["ks"] > 0.5
    # baseline folded batches 0 and 1, and NOT the failing-but-merged 2?
    # (update_baseline merges every newer batch; last_batch_id == 2)
    snap = baselines.read("mon", "v__stream").collect()[0]
    assert snap["last_batch_id"] == 2
    assert snap["total"] == pytest.approx(60_000)

    # replay safety: restarting on the same checkpoint with no new data
    # neither duplicates verdicts nor re-merges the baseline
    q2 = drift_monitor_stream(
        spark, stream, "v", baselines, "mon", str(tmp_path / "ckpt"),
        verdicts_path, metric="ks", threshold=0.1,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(verdicts_path).count() == 3
    snap2 = baselines.read("mon", "v__stream").collect()[0]
    assert snap2["last_batch_id"] == 2
    assert snap2["total"] == pytest.approx(60_000)

    # forced replay of the last batch (uncommit it in the checkpoint):
    # its verdict partition already exists, so the original score must
    # be kept — NOT re-scored against the baseline that now contains
    # the batch's own data (self-comparison would lower ks)
    import os as _os

    def _uncommit(batch: int) -> None:
        # drop the commit marker AND its local-FS checksum shadow (a
        # stale .crc makes the replayed commit's rename fail)
        for f in (str(batch), f".{batch}.crc"):
            p = str(tmp_path / "ckpt" / "commits" / f)
            if _os.path.exists(p):
                _os.remove(p)

    _uncommit(2)
    q3 = drift_monitor_stream(
        spark, stream, "v", baselines, "mon", str(tmp_path / "ckpt"),
        verdicts_path, metric="ks", threshold=0.1,
    )
    q3.awaitTermination(60)
    kept = {r["batch_id"]: r for r in spark.read.parquet(verdicts_path).collect()}
    assert len(kept) == 3
    assert kept[2]["ks"] == verdicts[2]["ks"] and not kept[2]["replayed"]

    # crash window: merge committed but verdict missing — the replay
    # must write a verdict but flag it as self-compared
    _uncommit(2)
    import shutil as _shutil
    _shutil.rmtree(str(tmp_path / "verdicts" / "batch_id=2"))
    q4 = drift_monitor_stream(
        spark, stream, "v", baselines, "mon", str(tmp_path / "ckpt"),
        verdicts_path, metric="ks", threshold=0.1,
    )
    q4.awaitTermination(60)
    redo = {r["batch_id"]: r for r in spark.read.parquet(verdicts_path).collect()}
    assert len(redo) == 3 and redo[2]["replayed"]
    # self-comparison: batch 2 is inside the baseline now, so the
    # replayed score is lower than the honest original
    assert redo[2]["ks"] < verdicts[2]["ks"]

    # and the baseline itself was not double-merged
    snap3 = baselines.read("mon", "v__stream").collect()[0]
    assert snap3["last_batch_id"] == 2
    assert snap3["total"] == pytest.approx(60_000)

    # an all-NULL batch is zero mass against the baseline: maximal
    # drift, FAIL (it passed with a NULL score before), and it folds
    # nothing into the baseline
    spark.range(100).select(F.lit(None).cast("double").alias("v")).coalesce(
        1
    ).write.mode("append").parquet(src_dir)
    q5 = drift_monitor_stream(
        spark, stream, "v", baselines, "mon", str(tmp_path / "ckpt"),
        verdicts_path, metric="ks", threshold=0.1,
    )
    q5.awaitTermination(60)
    nulls = {r["batch_id"]: r for r in spark.read.parquet(verdicts_path).collect()}
    assert len(nulls) == 4
    assert not nulls[3]["passed"] and nulls[3]["ks"] == pytest.approx(1.0)
    snap5 = baselines.read("mon", "v__stream").collect()[0]
    assert snap5["last_batch_id"] == 3
    assert snap5["total"] == pytest.approx(60_000)


def test_grouped_tdigest_drift_tiny_groups_no_crash(spark):
    """1-row groups produce degenerate digests (single centroid, all
    quantile edges equal); identical sides must still read as zero
    drift and nothing may crash."""
    df = spark.createDataFrame(
        [(0, 1.0), (1, 5.0), (1, 5.5), (2, 9.0)], "grp int, v double"
    )
    out = {r["grp"]: r for r in _grouped_tdigest_drift(df, df).collect()}
    assert set(out) == {0, 1, 2}
    for g, r in out.items():
        assert r["ks"] == pytest.approx(0.0, abs=1e-12), (g, r)


# ---------------------------------------------------------------------------
# property tests (numpy core, no Spark)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=200, deadline=None)
@given(
    hst.lists(
        hst.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=500,
    ),
    hst.sampled_from([20.0, 50.0, 200.0]),
)
def test_property_digest_mass_and_bounds(values, delta):
    """For ANY input: total mass conserved exactly, centroid count
    bounded by ~delta/2+2, centroid means inside [min, max], and
    quantile estimates monotone within [min, max]."""
    v = np.asarray(values, dtype=np.float64)
    m, w = _merge_centroids(v, np.ones_like(v), delta)
    assert w.sum() == pytest.approx(len(v), abs=1e-9)
    assert len(m) <= delta / 2 + 2
    assert m.min() >= v.min() - 1e-9 and m.max() <= v.max() + 1e-9
    qs = _digest_quantile(
        np.linspace(0, 1, 21), m, w, float(w.sum()), float(v.min()), float(v.max())
    )
    assert np.all(np.diff(qs) >= -1e-12)  # monotone quantile function
    assert qs[0] == v.min() and qs[-1] == v.max()


@settings(max_examples=100, deadline=None)
@given(
    hst.lists(
        hst.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=300,
    ),
    hst.lists(
        hst.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=300,
    ),
)
def test_property_digest_merge_mass_conserved(a_vals, b_vals):
    """Merging two digests conserves total mass and stays bounded."""
    a = np.asarray(a_vals, dtype=np.float64)
    b = np.asarray(b_vals, dtype=np.float64)
    ma, wa = _merge_centroids(a, np.ones_like(a), 100.0)
    mb, wb = _merge_centroids(b, np.ones_like(b), 100.0)
    mm, wm = _merge_centroids(np.r_[ma, mb], np.r_[wa, wb], 100.0)
    assert wm.sum() == pytest.approx(len(a) + len(b), abs=1e-6)
    assert len(mm) <= 100 / 2 + 2
    assert np.all(np.diff(mm) >= 0)


@settings(max_examples=50, deadline=None)
@given(hst.integers(min_value=1, max_value=2000), hst.integers(min_value=0, max_value=10**6))
def test_property_digest_rank_error_uniform(n, shift):
    """Rank error on arbitrary-size uniform grids stays within the
    t-digest bound (~1/delta at the center, tighter at tails)."""
    v = np.arange(n, dtype=np.float64) + shift
    m, w = _merge_centroids(v, np.ones_like(v), 200.0)
    dig = (m, w, float(w.sum()), float(v.min()), float(v.max()))
    probs = np.array([0.01, 0.25, 0.5, 0.75, 0.99])
    est = _digest_quantile(probs, *dig)
    ranks = (np.searchsorted(np.sort(v), est) / n)
    assert np.all(np.abs(ranks - probs) <= 0.02 + 1.0 / n)


def test_drift_monitor_stream_all_null_first_batch(spark, tmp_path):
    """An all-null first batch must not bootstrap an empty baseline or
    crash the following batch; the first batch WITH mass bootstraps."""
    from datapact_spark.ledger import BaselineStore
    from datapact_spark.streaming.incremental import drift_monitor_stream

    src_dir = str(tmp_path / "src")
    spark.range(100).select(F.lit(None).cast("double").alias("v")).coalesce(
        1
    ).write.mode("append").parquet(src_dir)
    spark.range(5_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(100)) * 1.0).alias("v")
    ).coalesce(1).write.mode("append").parquet(src_dir)
    spark.range(5_000, 10_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(100)) * 1.0).alias("v")
    ).coalesce(1).write.mode("append").parquet(src_dir)

    baselines = BaselineStore(spark, str(tmp_path / "res"))
    verdicts_path = str(tmp_path / "verdicts")
    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = drift_monitor_stream(
        spark, stream, "v", baselines, "mon2", str(tmp_path / "ckpt"),
        verdicts_path, metric="ks", threshold=0.1,
    )
    q.awaitTermination(120)
    verdicts = {
        r["batch_id"]: r for r in spark.read.parquet(verdicts_path).collect()
    }
    # batch 0 (all null) emitted a vacuous-pass verdict, no baseline;
    # batch 1 bootstrapped; batch 2 compared clean
    assert len(verdicts) == 3 and all(r["passed"] for r in verdicts.values())
    snap = baselines.read("mon2", "v__stream").collect()[0]
    assert snap["last_batch_id"] == 2
    assert snap["total"] == pytest.approx(10_000)


def test_tdigest_two_level_merge_exact_regime_identical(spark, tables):
    """The salted sub-merge level (bounds the final per-group merge at
    merge_salt_buckets rows) must be byte-identical to the one-level
    merge in the exactness regime (delta/2 >= n: no compression fires
    anywhere, every merge is concat+sort) — the regime the strict
    tdigest_quantiles oracle runs in."""
    from datapact_spark.operators.quantiles import tdigest_quantiles, tdigest_sketch

    docs = tables["documents"].limit(500)
    probs = [0.1, 0.25, 0.5, 0.9]
    one = tdigest_quantiles(
        tdigest_sketch(docs, "doc_id", delta=4000.0, merge_salt_buckets=1), probs
    ).collect()
    two = tdigest_quantiles(
        tdigest_sketch(docs, "doc_id", delta=4000.0, merge_salt_buckets=32), probs
    ).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, two))


def test_tdigest_two_level_merge_general_regime_accuracy(spark, tables):
    """Compression regime (delta << n): the two-level digest is a
    different-but-valid digest — quantile estimates stay within the
    digest's rank-error envelope of the exact percentiles."""
    from datapact_spark.operators.quantiles import tdigest_quantiles, tdigest_sketch

    li = tables["lineitem"]
    probs = [0.1, 0.5, 0.9]
    dig = tdigest_sketch(li, "l_extendedprice", delta=100.0, merge_salt_buckets=16)
    est = {
        round(r["prob"], 2): r["quantile"]
        for r in tdigest_quantiles(dig, probs).collect()
    }
    exact = li.selectExpr(
        *[f"percentile(l_extendedprice, {p}) AS p{int(p*100)}" for p in probs]
    ).collect()[0]
    n = li.count()
    ranks = {
        p: li.where(F.col("l_extendedprice") <= est[p]).count() / n for p in probs
    }
    for p in probs:
        assert abs(ranks[p] - p) < 0.05, (p, ranks[p], est[p], exact)
