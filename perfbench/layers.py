"""Per-layer metrics of a traced run.

``install`` wraps the program's public functions, one layer each, with
``tracing.Tracer`` spans; ``after_traced`` records what must be read
right after a traced iteration (pinned relations, ledger files, LSH
candidate count); ``per_layer`` joins the spans with the Spark event log
and reports the median per traced iteration of every metric.
"""

from __future__ import annotations

import os
import statistics

from eventlog import EventLog
from tracing import Tracer, peak_parallelism
from workloads import PIPELINE_STAGES, dir_usage

LEDGER_DIRS = ("run_history", "violations", "checkpoints")


def _task_key(args, kwargs):
    task = kwargs.get("task", args[1] if len(args) > 1 else None)
    return getattr(task, "task_key", None)


def install() -> Tracer:
    from datapact_spark import engine
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.ledger import CheckpointStore, ResultsLedger
    from datapact_spark.operators import dedup
    from datapact_spark.pipeline import PipelineRunner
    from datapact_spark.plans import partitioned
    from datapact_spark.sources.loader import TableResolver

    tracer = Tracer()
    tracer.wrap(TableResolver, "resolve", "loader")
    tracer.wrap(engine, "compile_task", "compiler", key=_task_key)
    tracer.wrap(partitioned, "compile_partition_verdicts", "partitioned", key=_task_key)
    tracer.wrap(DataPactEngine, "run", "engine")
    tracer.wrap(ResultsLedger, "append", "ledger")
    tracer.wrap(ResultsLedger, "write_violations", "ledger")
    tracer.wrap(ResultsLedger, "write_exec_table", "aggregate")
    for name in ("write_batches", "finalize_batch", "read_verdicts"):
        tracer.wrap(CheckpointStore, name, "checkpoint")
    tracer.wrap(PipelineRunner, "run", "pipeline")
    tracer.wrap(dedup, "minhash_lsh_candidates", "dedup", on_result=tracer.results.append)
    return tracer


def after_traced(spark, wl, it, tracer: Tracer) -> None:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    it.pinned = (len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20)
    files = size = 0
    for entry in os.listdir(wl.results_path) if os.path.isdir(wl.results_path) else []:
        if entry in LEDGER_DIRS or entry.startswith("exec_"):
            f, b = dir_usage(os.path.join(wl.results_path, entry))
            files, size = files + f, size + b
    it.ledger_files = (files, size)
    # the candidate pairs minhash_dedup verified, counted outside the timing
    it.candidates = tracer.results.pop().count() if tracer.results else 0
    tracer.results.clear()


def _sum(spans) -> float:
    return sum(s.seconds for s in spans)


def _iteration(wl, it, tracer: Tracer, log: EventLog) -> dict[str, float]:
    w0, w1 = it.window
    spans = tracer.between(w0, w1)
    by = lambda layer, name=None: [s for s in spans if s.layer == layer and (name is None or s.name == name)]  # noqa: E731
    jobs = log.jobs_between(w0, w1)
    m: dict[str, float] = {}

    m["loader.resolve_s"] = _sum(by("loader"))
    m["loader.resolve_calls"] = len(by("loader"))
    compiles = by("compiler")
    m["compiler.compile_s"] = _sum(compiles)
    m["compiler.jobs_during_compile"] = sum(
        1 for s in compiles for j in jobs if j.task_key == s.key and s.t0 <= j.submit <= s.t1
    )
    m["partitioned.compile_s"] = _sum(by("partitioned"))

    runs = by("engine", "run")
    outcomes = it.detail.get("outcomes") or {}
    if runs and outcomes:
        start = {}
        for s in compiles:
            start[s.key] = min(start.get(s.key, s.t0), s.t0)
        m["engine.queue_wait_s"] = sum(t - runs[0].t0 for t in start.values())
        m["engine.peak_parallelism"] = peak_parallelism(
            [(start[k], start[k] + o.duration_sec) for k, o in outcomes.items() if k in start]
        )
        m["engine.tasks_per_min"] = 60.0 * len(outcomes) / _sum(runs)
    else:
        m["engine.queue_wait_s"] = m["engine.peak_parallelism"] = m["engine.tasks_per_min"] = 0.0

    m["aggregate.exec_tables_s"] = _sum(by("aggregate"))
    m["ledger.append_s"] = _sum(by("ledger", "append"))
    m["ledger.violations_s"] = _sum(by("ledger", "write_violations"))
    m["ledger.checkpoint_s"] = _sum(by("checkpoint"))
    m["ledger.files_written"], m["ledger.bytes_written"] = it.ledger_files

    stages = {s.stage: s for s in it.detail.get("stages") or []}
    for name in PIPELINE_STAGES:
        m[f"pipeline.stage_s.{name}"] = stages[name].seconds if name in stages else 0.0
    pipe = by("pipeline", "run")
    if pipe and stages:
        # stages run one after another from the runner's start
        t, counts = pipe[0].t0, []
        for st in it.detail["stages"]:
            counts.append(sum(1 for j in jobs if t <= j.submit < t + st.seconds))
            t += st.seconds
        m["pipeline.jobs_per_stage"] = statistics.mean(counts)
    else:
        m["pipeline.jobs_per_stage"] = 0.0

    m["dedup.near_dup_s"] = it.detail.get("near_dup_s", 0.0)
    m["dedup.lsh_candidates"] = it.candidates
    m["dedup.verified_pairs"] = it.detail.get("verified_pairs", 0)
    m["dedup.lsh_precision"] = m["dedup.verified_pairs"] / it.candidates if it.candidates else 0.0

    tot = log.totals(jobs)
    for k in ("jobs", "stages", "tasks", "result_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
              "scan_rows", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = tot[k]
    m["spark.scan_amplification"] = tot["scan_rows"] / wl.input_rows()
    m["python.bytes_to_worker"] = tot["python_to_bytes"]
    m["python.bytes_from_worker"] = tot["python_from_bytes"]

    m["session.pinned_relations"], m["session.pinned_mb"] = it.pinned
    return m


UNITS = {
    "cold_run_s": "s",
    "session.start_s": "s", "session.jvm_start_s": "s", "session.pinned_relations": "count", "session.pinned_mb": "MB",
    "config.load_s": "s",
    "loader.resolve_s": "s", "loader.resolve_calls": "count",
    "compiler.compile_s": "s", "compiler.jobs_during_compile": "count",
    "partitioned.compile_s": "s",
    "engine.queue_wait_s": "s", "engine.peak_parallelism": "count", "engine.tasks_per_min": "1/min",
    "aggregate.exec_tables_s": "s",
    "ledger.append_s": "s", "ledger.violations_s": "s", "ledger.checkpoint_s": "s",
    "ledger.bytes_written": "B", "ledger.files_written": "count",
    **{f"pipeline.stage_s.{s}": "s" for s in PIPELINE_STAGES},
    "pipeline.jobs_per_stage": "count",
    "dedup.near_dup_s": "s", "dedup.lsh_candidates": "count", "dedup.verified_pairs": "count",
    "dedup.lsh_precision": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.result_bytes": "B",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.scan_rows": "count", "spark.scan_bytes": "B", "spark.scan_amplification": "ratio",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "python.bytes_to_worker": "B", "python.bytes_from_worker": "B",
    "tracing.overhead_s": "s",
    "wrong_verdicts": "count", "failed_frac": "ratio",
}


def per_layer(wl, setups, cold, timed, tracer: Tracer, event_dir: str, wrong: int, failed: int,
              attempted: int) -> dict[str, tuple[float, str]]:
    log = EventLog.load(event_dir)
    traced = [it for it in timed if it.traced]
    plain = [it for it in timed if not it.traced]
    rows = [_iteration(wl, it, tracer, log) for it in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    # storage left pinned accumulates across iterations: report the last
    out["session.pinned_relations"], out["session.pinned_mb"] = traced[-1].pinned
    out["session.start_s"] = statistics.median(s["session"] for s in setups)
    out["session.jvm_start_s"] = setups[0]["session"]
    # one sample per process, so it is reported here rather than gated
    out["cold_run_s"] = cold.seconds
    out["config.load_s"] = statistics.median(s["config"] for s in setups)
    out["tracing.overhead_s"] = (
        statistics.median(it.seconds for it in traced) - statistics.median(it.seconds for it in plain)
    )
    out["wrong_verdicts"] = wrong
    out["failed_frac"] = failed / attempted
    return {k: (out[k], UNITS[k]) for k in UNITS}
