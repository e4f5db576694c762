"""Resumable pipeline runner (VERDICT r5 #3): stage-boundary parquet
materialization + exactly-at-boundary resume, composed from the same
_SUCCESS-marker conventions as the partitioned-verdict checkpoints.
"""

import os

import pytest
from pyspark.sql import functions as F

from datapact_spark.pipeline import PipelineRunner, Stage

SF_DIR = "/root/testdata/sf0.001"


def _stages():
    """A miniature 3-stage corpus prep: filter → fingerprint-dedup →
    per-language counts."""
    return [
        Stage("filter", lambda df: df.where(F.length("text") > 10)),
        Stage("dedup", lambda df: (
            df.withColumn("f", F.md5(F.lower(F.trim("text"))))
            .groupBy("f")
            .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
            .drop("f")
        )),
        Stage("stats", lambda df: (
            df.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(F.length("text")).alias("total_chars"))
        )),
    ]


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )


def test_pipeline_runs_and_materializes_each_stage(spark, docs, tmp_path):
    runner = PipelineRunner(spark, str(tmp_path))
    out, results = runner.run("prep", 1, docs, _stages())
    assert [r.stage for r in results] == ["filter", "dedup", "stats"]
    assert all(not r.resumed for r in results)
    assert out.count() == 1
    for r in results:
        assert os.path.exists(os.path.join(r.path, "_SUCCESS")), r.stage
        assert r.rows is not None and r.rows > 0


def test_pipeline_resume_skips_committed_stages(spark, docs, tmp_path):
    """Kill/resume e2e (mirrors test_resume_skips_committed_batches):
    a run killed mid-stage-3 leaves stages 1-2 committed and stage 3
    without a marker; the re-run must read stages 1-2 (fn never
    invoked, files untouched) and recompute exactly stage 3."""
    runner = PipelineRunner(spark, str(tmp_path))
    calls: list[str] = []

    def counting(stages):
        return [
            Stage(s.name, (lambda f, n: lambda df: (calls.append(n), f(df))[1])(
                s.fn, s.name))
            for s in stages
        ]

    boom = counting(_stages())
    orig_stats_fn = boom[2].fn

    def exploding(df):
        raise RuntimeError("killed mid-stage")

    boom[2] = Stage("stats", exploding)
    with pytest.raises(RuntimeError, match="killed mid-stage"):
        runner.run("prep", 7, docs, boom)
    assert calls == ["filter", "dedup"]

    base = os.path.join(str(tmp_path), "prep", "run_id=7")
    mtimes = {
        d: os.path.getmtime(os.path.join(base, d, "_SUCCESS"))
        for d in os.listdir(base)
    }
    assert len(mtimes) == 2  # stage 3 never committed

    calls.clear()
    out, results = runner.run(
        "prep", 7, docs, counting(_stages()), job_name="prep-job"
    )
    assert calls == ["stats"], "committed stages must not re-run"
    assert [r.resumed for r in results] == [True, True, False]
    for d, m in mtimes.items():
        assert os.path.getmtime(os.path.join(base, d, "_SUCCESS")) == m, (
            f"{d} was rewritten on resume"
        )
    row = out.collect()[0]
    assert row["n_docs"] > 0 and row["total_chars"] > 0
    del orig_stats_fn


def test_pipeline_torn_stage_dir_is_overwritten(spark, docs, tmp_path):
    """A kill mid-WRITE leaves parquet files but no _SUCCESS: the stage
    is uncommitted and must be recomputed with mode=overwrite — no
    stale rows survive."""
    runner = PipelineRunner(spark, str(tmp_path))
    runner.run("prep", 3, docs, _stages())
    stats_dir = os.path.join(str(tmp_path), "prep", "run_id=3", "stage_02_stats")
    os.remove(os.path.join(stats_dir, "_SUCCESS"))
    out, results = runner.run("prep", 3, docs, _stages())
    assert [r.resumed for r in results] == [True, True, False]
    assert out.count() == 1


def test_pipeline_lineage_rows(spark, docs, tmp_path):
    import json

    from datapact_spark.ledger import ResultsLedger

    ledger = ResultsLedger(spark, str(tmp_path / "results"))
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    runner.run("prep", 9, docs, _stages(), ledger=ledger, job_name="prep-job")
    hist = ledger.read().where(F.col("run_id") == 9)
    rows = {r["task_key"]: r for r in hist.collect()}
    assert set(rows) == {"prep.filter", "prep.dedup", "prep.stats"}
    assert all(r["status"] == "SUCCESS" for r in rows.values())
    # a resumed re-run rewrites the SAME complete picture (the ledger
    # append is a per-run dynamic overwrite) — still exactly 3 rows,
    # now flagged resumed
    runner.run("prep", 9, docs, _stages(), ledger=ledger, job_name="prep-job")
    rows2 = {r["task_key"]: json.loads(r["result_payload"])
             for r in ledger.read().where(F.col("run_id") == 9).collect()}
    assert len(rows2) == 3
    assert all(p["resumed"] for p in rows2.values())


def test_pipeline_lineage_survives_kill_resume(spark, docs, tmp_path):
    """A killed run's committed-stage lineage must not be WIPED by the
    resumed attempt's append (ledger.append overwrites the run_id
    partition): the resumed attempt rewrites all stages, so the final
    ledger carries every stage exactly once."""
    import json

    from datapact_spark.ledger import ResultsLedger

    ledger = ResultsLedger(spark, str(tmp_path / "results"))
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    boom = _stages()
    boom[2] = Stage("stats", lambda df: (_ for _ in ()).throw(
        RuntimeError("killed")))
    with pytest.raises(RuntimeError, match="killed"):
        runner.run("prep", 11, docs, boom, ledger=ledger, job_name="prep-job")
    # the failed attempt wrote nothing to the ledger (it raised before
    # the lineage append) — the stage checkpoints are the resume truth
    assert ledger.read().where(F.col("run_id") == 11).count() == 0

    runner.run("prep", 11, docs, _stages(), ledger=ledger, job_name="prep-job")
    rows = {r["task_key"]: json.loads(r["result_payload"])
            for r in ledger.read().where(F.col("run_id") == 11).collect()}
    assert set(rows) == {"prep.filter", "prep.dedup", "prep.stats"}
    assert rows["prep.filter"]["resumed"] and rows["prep.dedup"]["resumed"]
    assert not rows["prep.stats"]["resumed"]


def test_pipeline_validations(spark, docs, tmp_path):
    runner = PipelineRunner(spark, str(tmp_path))
    with pytest.raises(ValueError, match="at least one"):
        runner.run("p", 1, docs, [])
    with pytest.raises(ValueError, match="duplicate"):
        runner.run("p", 1, docs, [Stage("a", lambda d: d), Stage("a", lambda d: d)])


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group`` and return (fn's result,
    number of Spark jobs the group ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_stage_runs_one_job(spark, docs, tmp_path):
    """A map-only stage costs the one job of its write: its row count
    rides the write and the read-back needs no schema-inference job."""
    stages = [
        Stage("filter", lambda df: df.where(F.length("text") > 10)),
        Stage("measure", lambda df: df.withColumn("n_chars", F.length("text"))),
    ]
    runner = PipelineRunner(spark, str(tmp_path))
    (out, results), jobs = _jobs_in_group(
        spark, f"pipeline-jobs-{tmp_path.name}",
        lambda: runner.run("jobs", 1, docs, stages),
    )
    assert jobs == len(stages), jobs
    expected = docs.where(F.length("text") > 10).count()
    assert [r.rows for r in results] == [expected, expected]
    assert out.columns == ["doc_id", "text", "n_chars"]
    assert out.count() == expected


def test_empty_stage_reports_zero_rows_and_feeds_next(spark, docs, tmp_path):
    stages = [
        Stage("nothing", lambda df: df.where("1 = 0")),
        Stage("after", lambda df: df.withColumn("n_chars", F.length("text"))),
    ]
    out, results = PipelineRunner(spark, str(tmp_path)).run("empty", 1, docs, stages)
    assert [r.rows for r in results] == [0, 0]
    assert os.path.exists(os.path.join(results[1].path, "_SUCCESS"))
    assert out.columns == ["doc_id", "text", "n_chars"]
    assert out.count() == 0


def test_concurrent_pipelines_with_same_stage_names_count_their_own(
        spark, docs, tmp_path):
    """Two runners with identical stage names (so identical observation
    names) write at the same time; each reports its own counts."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    preds = {"even": F.col("doc_id") % 2 == 0, "thirds": F.col("doc_id") % 3 == 0}
    start = threading.Barrier(len(preds))

    def run(label):
        pred = preds[label]
        stages = [
            Stage("keep", lambda df: df.where(pred)),
            Stage("long", lambda df: df.where(F.length("text") > 40)),
        ]
        start.wait()
        _, results = PipelineRunner(spark, str(tmp_path / label)).run(
            "prep", 1, docs, stages)
        return [r.rows for r in results]

    with ThreadPoolExecutor(max_workers=len(preds)) as pool:
        got = dict(zip(preds, pool.map(run, preds, timeout=300)))
    for label, pred in preds.items():
        kept = docs.where(pred)
        assert got[label] == [kept.count(), kept.where(F.length("text") > 40).count()]
    assert got["even"] != got["thirds"]


def test_failed_stage_write_raises_without_waiting_on_its_count(
        spark, docs, tmp_path):
    """A write that fails at execution time raises out of ``run``
    promptly (the count is read only after a write returns) and commits
    nothing."""
    from concurrent.futures import ThreadPoolExecutor

    stages = [
        Stage("ok", lambda df: df.where(F.length("text") > 10)),
        Stage("boom", lambda df: df.withColumn("text", F.when(
            F.col("doc_id") >= 0, F.raise_error(F.lit("stage boom"))
        ).otherwise(F.col("text")))),
    ]
    runner = PipelineRunner(spark, str(tmp_path))
    with ThreadPoolExecutor(max_workers=1) as pool:
        attempt = pool.submit(runner.run, "fail", 1, docs, stages)
        with pytest.raises(Exception, match="stage boom"):
            attempt.result(timeout=300)
    base = os.path.join(str(tmp_path), "fail", "run_id=1")
    assert os.path.exists(os.path.join(base, "stage_00_ok", "_SUCCESS"))
    assert not os.path.exists(os.path.join(base, "stage_01_boom", "_SUCCESS"))


def test_corpus_pipeline_through_runner_matches_oracle_pins(spark, tmp_path):
    """The six-stage corpus pipeline executed THROUGH the runner (each
    stage materialized + resumable) reproduces the exact per-stage
    row counts and id-hash pins of the lazily-derived oracle query —
    the production shape and the oracle shape are the same pipeline."""
    import __spark_entry__ as entry_mod
    from datapact_spark.operators.dedup import strip_boilerplate
    from datapact_spark.operators.sampling import (
        deterministic_split,
        portable_id_hash,
    )
    from datapact_spark.operators.textops import (
        chunk_documents,
        pack_sequences,
        pack_summary,
        redact_pii,
    )

    oracle_rows = {
        r["stage"]: (r["n_rows"], r["id_hash_sum"])
        for r in entry_mod.queries_all()["corpus_pipeline"](spark, SF_DIR).collect()
    }

    header = "// Copyright 2026 Example Corp\n// SPDX-License-Identifier: MIT"
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    injected = spark.createDataFrame(
        [
            (9_200_001, f"{header}\nalpha body one"),
            (9_200_002, f"{header}\nbeta body two\n\nmore beta"),
            (9_200_003, f"{header}\ngamma body three"),
            (9_200_004, header),
            (9_200_005, "alpha body one"),
            (9_200_006, "contact a@b.io now"),
            (9_200_007, "contact c@d.org now"),
        ],
        "doc_id long, text string",
    )
    raw = docs.unionByName(injected)

    stages = [
        Stage("cleaned", lambda df: redact_pii(
            strip_boilerplate(df, min_docs=3)
            .where(F.col("cleaned_text") != "")
            .select("doc_id", F.col("cleaned_text").alias("text"))
        )),
        Stage("deduped", lambda df: (
            df.withColumn("f", F.md5(F.lower(F.regexp_replace(
                F.trim("text"), r"\s+", " "))))
            .groupBy("f").agg(F.min("doc_id").alias("doc_id"),
                              F.first("text").alias("text"))
            .drop("f")
        )),
        Stage("train", lambda df: deterministic_split(
            df, {"train": 0.9, "val": 0.05, "test": 0.05}
        ).where(F.col("split") == "train").drop("split")),
        Stage("chunks", lambda df: chunk_documents(
            df, max_tokens=40, overlap=8)),
        Stage("sequences", lambda df: pack_summary(
            pack_sequences(df, context_len=128, shards=4), context_len=128)),
    ]
    runner = PipelineRunner(spark, str(tmp_path))
    _, results = runner.run("corpus", 1, raw, stages)

    def pin(df, key):
        r = df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(portable_id_hash(key).cast("decimal(38,0)"))
            .cast("string").alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    did = F.col("doc_id").cast("string")
    stage_dfs = {
        r.stage: spark.read.parquet(r.path) for r in results
    }
    assert pin(raw, did) == oracle_rows["1_raw"]
    assert pin(stage_dfs["cleaned"], did) == oracle_rows["2_cleaned"]
    assert pin(stage_dfs["deduped"], did) == oracle_rows["3_deduped"]
    assert pin(stage_dfs["train"], did) == oracle_rows["4_train"]
    assert pin(
        stage_dfs["chunks"],
        F.concat_ws(":", F.col("id").cast("string"), F.col("chunk_id")),
    ) == oracle_rows["5_chunks"]
    assert pin(
        stage_dfs["sequences"],
        F.concat_ws(":", F.col("shard").cast("string"), F.col("seq_in_shard")),
    ) == oracle_rows["6_sequences"]


class TestDeclarativePipelines:
    """YAML-declarable curation pipelines (config.PipelineSpec →
    pipeline.build_stages → PipelineRunner)."""

    def _spec(self, **over):
        from datapact_spark.config import PipelineSpec

        base = {
            "pipeline_key": "prep",
            "source": "documents",
            "stages": [
                {"kind": "filter", "where": "length(text) > 10"},
                {"kind": "strip_boilerplate", "min_docs": 3},
                {"kind": "redact_pii"},
                {"kind": "exact_dedup"},
                {"kind": "split",
                 "fractions": {"train": 0.9, "val": 0.05, "test": 0.05},
                 "keep": "train"},
                {"kind": "chunk", "max_tokens": 40, "overlap": 8},
                {"kind": "pack", "context_len": 128, "shards": 4},
            ],
        }
        base.update(over)
        return PipelineSpec(**base)

    def test_spec_validation(self):
        import pydantic
        import pytest as _pytest

        with _pytest.raises(pydantic.ValidationError, match="unknown pipeline stage kind"):
            self._spec(stages=[{"kind": "nonsense"}])
        with _pytest.raises(pydantic.ValidationError, match="pack requires"):
            self._spec(stages=[{"kind": "pack"}])
        with _pytest.raises(pydantic.ValidationError, match="cannot follow"):
            self._spec(stages=[
                {"kind": "chunk"}, {"kind": "redact_pii"},
            ])

    def test_build_stages_param_validation(self):
        from datapact_spark.pipeline import build_stages

        with pytest.raises(ValueError, match="requires `where`"):
            build_stages(self._spec(stages=[{"kind": "filter"}]))
        with pytest.raises(ValueError, match="requires `fractions`"):
            build_stages(self._spec(stages=[{"kind": "split"}]))
        with pytest.raises(ValueError, match="not in fractions"):
            build_stages(self._spec(stages=[
                {"kind": "split", "fractions": {"a": 1.0}, "keep": "b"},
            ]))
        # duplicate kinds get unique stage names
        stages = build_stages(self._spec(stages=[
            {"kind": "redact_pii"}, {"kind": "redact_pii"},
        ]))
        assert [s.name for s in stages] == ["redact_pii", "redact_pii_2"]

    def test_config_roundtrip_and_exclusivity(self, tmp_path):
        import pydantic
        import yaml

        from datapact_spark.config import load_config

        cfg = {
            "results_path": "/tmp/r",
            "pipelines": [{
                "pipeline_key": "prep",
                "source": "documents",
                "stages": [{"kind": "redact_pii"}],
            }],
        }
        p = tmp_path / "p.yml"
        p.write_text(yaml.safe_dump(cfg))
        loaded = load_config(p)
        assert loaded.pipelines[0].stages[0].kind == "redact_pii"
        assert loaded.validations == []
        # an empty config is rejected
        p.write_text(yaml.safe_dump({"results_path": "/tmp/r"}))
        with pytest.raises(pydantic.ValidationError, match="at least one"):
            load_config(p)

    def test_declarative_matches_handwritten_corpus_stages(self, spark, docs,
                                                           tmp_path):
        """The declarative spec compiled through build_stages produces
        the same per-stage row counts as the hand-built stages for the
        shared kinds (filter → dedup semantics)."""
        from datapact_spark.pipeline import PipelineRunner, build_stages

        spec = self._spec(stages=[
            {"kind": "filter", "where": "length(text) > 10"},
            {"kind": "exact_dedup"},
        ])
        runner = PipelineRunner(spark, str(tmp_path / "d"))
        _, decl = runner.run("decl", 1, docs, build_stages(spec))
        _, hand = PipelineRunner(spark, str(tmp_path / "h")).run(
            "hand", 1, docs, _stages()[:2]
        )
        assert [r.rows for r in decl] == [r.rows for r in hand]

    def test_runs_release_stage_persists(self, spark, docs, tmp_path):
        """strip_boilerplate persists its boiler hash set and the stage
        projects the operator's output; every run must still leave the
        session's persistent-RDD census where it found it."""
        from datapact_spark.pipeline import build_stages

        stages = build_stages(self._spec(stages=[
            {"kind": "filter", "where": "length(text) > 10"},
            {"kind": "strip_boilerplate", "min_docs": 3},
        ]))
        census = spark.sparkContext._jsc.getPersistentRDDs
        before = census().size()
        runner = PipelineRunner(spark, str(tmp_path))
        for run_id in (1, 2, 3):
            runner.run("prep", run_id, docs, stages)
            assert census().size() <= before, (
                f"run {run_id} left {census().size() - before} relations pinned"
            )

    def test_pipeline_cli_end_to_end_and_resume(self, spark, tmp_path, sf_dir):
        import subprocess
        import sys

        import yaml

        cfg = {
            "results_path": str(tmp_path / "results"),
            "pipelines": [{
                "pipeline_key": "prep",
                "source": "documents",
                "stages": [
                    {"kind": "filter", "where": "length(text) > 10"},
                    {"kind": "exact_dedup"},
                    {"kind": "split",
                     "fractions": {"train": 0.9, "val": 0.1},
                     "keep": "train"},
                    {"kind": "chunk", "max_tokens": 40, "overlap": 8},
                    {"kind": "pack", "context_len": 128, "shards": 4},
                ],
            }],
        }
        p = tmp_path / "pipe.yml"
        p.write_text(yaml.safe_dump(cfg))

        def run_cli():
            return subprocess.run(
                [sys.executable, "-m", "datapact_spark", "pipeline",
                 "--config", str(p), "--base-dir", sf_dir,
                 "--run-id", "42"],
                capture_output=True, text=True, timeout=600,
                cwd="/root/repo",
            )

        r = run_cli()
        assert r.returncode == 0, r.stderr[-3000:]
        assert "prep.filter:" in r.stdout and "rows" in r.stdout
        assert "pipeline run_id=42 complete" in r.stdout
        # second invocation with the same run id resumes every stage
        r2 = run_cli()
        assert r2.returncode == 0, r2.stderr[-3000:]
        assert r2.stdout.count("resumed") == 5, r2.stdout
        # lineage rows landed in the results ledger
        import os
        hist = spark.read.parquet(
            os.path.join(str(tmp_path / "results"), "run_history")
        )
        keys = {r["task_key"] for r in hist.collect()}
        assert {"prep.filter", "prep.exact_dedup", "prep.split",
                "prep.chunk", "prep.pack"} <= keys
