"""Run orchestration: the Spark-native replacement for Databricks Jobs.

The reference builds a Databricks Jobs DAG — N independent SQL tasks in
parallel, then an aggregate gate (job_orchestrator.py:34-64). Here the
same shape runs inside one SparkSession: a thread pool submits each
task's plan concurrently (FAIR scheduler pools share executors across
tasks), each task resolves to a single 1-row collect, the driver
appends all ledger rows in one write, then the run-level aggregation
computes the exec summaries and raises on failure (the RAISE_ERROR
gate, validation.sql.j2:493 / aggregate_results.sql.j2:223-228).
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from datapact_spark import aggregate as agg
from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.ledger import LEDGER_SCHEMA, ResultsLedger
from datapact_spark.operators.drift import baseline_snapshot
from datapact_spark.plans.compiler import compile_task
from datapact_spark.session import cache_scope
from datapact_spark.sources.loader import TableResolver

log = logging.getLogger("datapact_spark")


class DataPactValidationError(RuntimeError):
    """Raised when any validation task fails (fail-fast gate parity)."""

    def __init__(self, failed_task_keys: list[str], payloads: dict[str, str]):
        self.failed_task_keys = failed_task_keys
        self.payloads = payloads
        super().__init__(
            f"DataPact validation tasks failed: {json.dumps(failed_task_keys)}"
        )


@dataclass
class TaskOutcome:
    task_key: str
    status: str  # SUCCESS | FAILURE | ERROR
    payload: str | None
    duration_sec: float
    error: str | None = None


@dataclass
class RunResult:
    run_id: int
    job_name: str
    outcomes: dict[str, TaskOutcome] = field(default_factory=dict)

    @property
    def failed_task_keys(self) -> list[str]:
        return [k for k, o in self.outcomes.items() if o.status != "SUCCESS"]

    @property
    def passed(self) -> bool:
        return not self.failed_task_keys


class DataPactEngine:
    def __init__(
        self,
        spark: SparkSession,
        resolver: TableResolver | None = None,
        results_path: str = "/tmp/datapact_results",
    ):
        self.spark = spark
        self.resolver = resolver or TableResolver(spark)
        self.ledger = ResultsLedger(spark, results_path)
        from datapact_spark.ledger import BaselineStore

        self.baselines = BaselineStore(spark, results_path)

    # ------------------------------------------------------------ plan
    def plan(self, config: DataPactConfig) -> dict[str, str]:
        """`datapact plan` parity (main.py:167-174): compile every task
        and return its physical plan text without executing.  Tasks with
        ``partition_by`` additionally show the per-partition verdict
        plan — the one that actually runs in partitioned mode."""

        def fmt(df) -> str:
            return df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )

        plans: dict[str, str] = {}
        resolver = self.resolver.scoped()
        for task in config.validations:
            compiled = compile_task(self.spark, task, resolver)
            text = fmt(compiled.metrics_df)
            if task.partition_by:
                from datapact_spark.plans.partitioned import compile_partition_verdicts

                # explaining runs no job: release what the compiler
                # persisted as soon as the plan text exists
                with cache_scope():
                    verdict_plan = fmt(
                        compile_partition_verdicts(self.spark, task, resolver)
                    )
                text += "\n\n== Per-partition verdict plan (partition_by=%s) ==\n" % (
                    task.partition_by,
                ) + verdict_plan
            plans[task.task_key] = text
        return plans

    # ------------------------------------------------------------- run
    def run(
        self,
        config: DataPactConfig,
        job_name: str = "datapact_run",
        run_id: int | None = None,
        raise_on_failure: bool = False,
        max_parallel: int | None = None,
    ) -> RunResult:
        if run_id is None:
            run_id = int(time.time() * 1000)
        job_start_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        result = RunResult(run_id=run_id, job_name=job_name)
        parallelism = max_parallel or config.max_parallel_tasks
        # one read per distinct table ref for this run, shared by every
        # task, partition verdict and referential parent lookup
        resolver = self.resolver.scoped()

        def _run_one(task: ValidationTask) -> tuple[TaskOutcome, Row | None]:
            # FAIR-pool isolation per task; local properties are
            # thread-confined so this tags only this task's jobs.
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"datapact_{task.task_key}"
            )
            t0 = time.monotonic()
            try:
                self._log_colocation(task)
                compiled = compile_task(
                    self.spark, task, resolver, baseline_store=self.baselines
                )
                row = compiled.ledger_row(
                    compiled.metrics_df.collect()[0],
                    run_id, run_id, job_name, job_start_ts,
                )
                for kind, vdf in compiled.violation_dfs.items():
                    self.ledger.write_violations(run_id, task.task_key, kind, vdf)
                for dcheck, src_df in compiled.bootstrap_drift:
                    self.baselines.write(
                        task.task_key, dcheck.column, baseline_snapshot(src_df, dcheck)
                    )
                if task.partition_by:
                    # north-star mode: per-partition verdicts computed,
                    # checkpointed, and folded into the task payload +
                    # status (any failing group fails the task)
                    row = self._augment_with_partition_verdicts(
                        task, run_id, row, resolver
                    )
                outcome = TaskOutcome(
                    task_key=task.task_key,
                    status=row["status"],
                    payload=row["result_payload"],
                    duration_sec=time.monotonic() - t0,
                )
                return outcome, row
            except Exception as exc:  # compile or execution error
                log.exception("task %s errored", task.task_key)
                return (
                    TaskOutcome(
                        task_key=task.task_key,
                        status="ERROR",
                        payload=None,
                        duration_sec=time.monotonic() - t0,
                        error=str(exc),
                    ),
                    None,
                )

        rows: list[Row] = []
        with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
            for outcome, row in pool.map(_run_one, config.validations):
                result.outcomes[outcome.task_key] = outcome
                if row is not None:
                    rows.append(row)

        if rows:
            # a frame of driver-side rows is a Python RDD: persisted, the
            # ledger write decodes it once and the exec tables reuse it
            ledger_df = self.spark.createDataFrame(rows, LEDGER_SCHEMA).persist()
            try:
                self.ledger.append(ledger_df)
                self._refresh_exec_tables(run_id, ledger_df)
            finally:
                ledger_df.unpersist(blocking=True)

        if raise_on_failure and not result.passed:
            raise DataPactValidationError(
                result.failed_task_keys,
                {
                    k: o.payload or o.error or ""
                    for k, o in result.outcomes.items()
                    if o.status != "SUCCESS"
                },
            )
        return result

    def _log_colocation(self, task: ValidationTask) -> bool | None:
        """Close the bucketing loop (sources/bucketed.py): when a task
        PK-joins two catalog tables, check their bucket specs up front
        and record whether the join will ride the buckets (zero
        Exchange) or shuffle both sides. Returns the tri-state result
        (None = not determinable) so callers/tests can assert it."""
        if not (task.pk_row_hash_check and task.primary_keys):
            return None
        coloc = self.resolver.colocation(
            task.source_ref, task.target_ref, task.primary_keys
        )
        if coloc is True:
            log.info(
                "task %s: source/target co-bucketed on %s — PK join plans "
                "exchange-free",
                task.task_key, task.primary_keys,
            )
        elif coloc is False:
            log.warning(
                "task %s: catalog tables are NOT co-bucketed on %s — the PK "
                "join will shuffle both sides; pre-bucket them with "
                "sources.bucketed.write_bucketed for an exchange-free plan",
                task.task_key, task.primary_keys,
            )
        return coloc

    def _augment_with_partition_verdicts(
        self, task: ValidationTask, run_id: int, row: Row, resolver: TableResolver
    ) -> Row:
        """Run per-partition verdicts for a partition_by task and fold a
        summary (group counts + up-to-10 failing group keys) into the
        task's payload; any failing group fails the task."""
        try:
            verdicts = self.run_partitioned(
                task,
                run_id,
                batches=task.partition_batches,
                resolver=resolver,
            )
        except ValueError:
            # no groupable checks configured (e.g. custom-SQL only) —
            # the task verdict stands alone
            return row
        group_cols = task.partition_by or []
        summary = verdicts.agg(
            F.count(F.lit(1)).alias("total"),
            # coalesce: SUM over zero rows is NULL — an empty verdict set
            # (empty source+target) must read as 0 failed, vacuous pass
            F.coalesce(
                F.sum(F.when(F.col("overall_validation_passed"), 0).otherwise(1)),
                F.lit(0),
            ).alias("failed"),
        ).collect()[0]
        failed_keys = [
            {c: r[c] for c in group_cols}
            for r in verdicts.where(~F.col("overall_validation_passed"))
            .select(*group_cols)
            .orderBy(*group_cols)
            .limit(10)
            .collect()
        ]
        payload = json.loads(row["result_payload"])
        payload["partition_verdicts"] = {
            "partition_by": group_cols,
            "total_groups": summary["total"],
            "failed_groups": summary["failed"],
            "sample_failed_keys": failed_keys,
            "status": "PASS" if summary["failed"] == 0 else "FAIL",
        }
        d = row.asDict()
        d["result_payload"] = json.dumps(payload)
        if summary["failed"] > 0:
            d["status"] = "FAILURE"
        return Row(**d)

    # ------------------------------------------- per-partition verdicts
    def run_partitioned(
        self,
        task: ValidationTask,
        run_id: int,
        batches: int = 4,
        resume: bool = True,
        resolver: TableResolver | None = None,
    ):
        """North-star execution mode: per-partition verdicts with
        checkpointed, exactly-resumable batches.

        The verdict keyspace (task.partition_by) is split into
        ``batches`` deterministic hash buckets. ALL uncommitted buckets
        are computed and written in ONE Spark job — the verdict DataFrame
        gains a ``batch`` column and is written ``partitionBy(batch)``
        with dynamic partition overwrite, so the input is scanned once
        per side regardless of ``batches`` (round 1 looped
        ``verdicts.where(bucket == b)`` per batch: ``batches``× full
        rescans of the join/profile DAG — fatal at 100 TB). Each bucket
        directory then gets its own commit marker; a killed run resumes
        by recomputing only unmarked buckets (idempotent dynamic
        overwrite replaces exactly those directories).

        ``resolver`` is the calling run's scoped resolver, so the task's
        tables are read once per run; default: a scope of its own.
        """
        from datapact_spark.ledger import CheckpointStore
        from datapact_spark.plans.partitioned import compile_partition_verdicts

        store = CheckpointStore(self.spark, self.ledger.path)
        group_cols = task.partition_by or []
        self._log_colocation(task)
        # the scope releases what the verdict plan persisted (the joined
        # profile, with constraint/freshness folds) once the batches are
        # written: the checkpoint is the durable copy from then on
        with cache_scope():
            verdicts = compile_partition_verdicts(
                self.spark, task, resolver or self.resolver.scoped()
            )
            missing = [
                b
                for b in range(batches)
                if not (resume and store.batch_done(task.task_key, run_id, b))
            ]
            if len(missing) < batches:
                log.info(
                    "task %s: %d/%d batches already committed — recomputing %s",
                    task.task_key, batches - len(missing), batches, missing,
                )
            if missing:
                bucket = F.pmod(
                    F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(batches)
                ).cast("int")
                out = verdicts.withColumn("batch", bucket)
                if len(missing) < batches:
                    out = out.where(F.col("batch").isin(missing))
                # drop orphan files of killed attempts first: a batch that
                # is EMPTY in this recompute produces no dir in the dynamic
                # overwrite, so leftovers would otherwise survive finalize
                store.clear_uncommitted_batches(task.task_key, run_id, missing)
                store.write_batches(task.task_key, run_id, out)
                for b in missing:
                    store.finalize_batch(task.task_key, run_id, b, verdicts.schema)
        return store.read_verdicts(task.task_key, run_id)

    def _refresh_exec_tables(self, run_id: int, run_rows: DataFrame) -> None:
        """Write the run's four exec tables from its in-memory ledger
        rows — the same rows ``ledger.append`` just wrote, so reading
        ``run_history`` back (schema inference plus a listing of every
        past run's partition) would only add cost."""
        self.ledger.write_exec_table("exec_run_summary", agg.run_summary(run_rows), run_id)
        self.ledger.write_exec_table(
            "exec_domain_breakdown", agg.domain_breakdown(run_rows), run_id
        )
        self.ledger.write_exec_table(
            "exec_owner_breakdown", agg.owner_breakdown(run_rows), run_id
        )
        self.ledger.write_exec_table(
            "exec_priority_breakdown", agg.priority_breakdown(run_rows), run_id
        )
