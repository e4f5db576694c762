"""Resumable multi-stage pipeline runner.

The corpus/code prep pipelines (strip → redact → dedup → split → chunk →
pack) are chains of engine operators. As oracle queries they re-derive
each stage's prefix lazily — fine at test scale, the wrong shape for a
real 100 TB run, where a kill at stage 5 must NOT recompute stages 1-4
(`__spark_entry__.q_corpus_pipeline`'s own production note).

``PipelineRunner`` composes the operators with the commit rule the
partitioned-verdict checkpoints use (`ledger.committed`): every stage
materializes to parquet under
``<root>/<key>/run_id=<id>/stage_NN_<name>/`` and only counts as
committed once Spark's ``_SUCCESS`` marker exists — a kill mid-write
leaves no marker, so resume recomputes exactly the interrupted stage
(idempotent overwrite) and replays nothing before it. Stage lineage
(rows out + wall seconds) can be appended to a ``ResultsLedger`` so the
run history shows per-stage progress like any validation task.

Scale notes: the parquet boundary between stages is what a production
pipeline wants anyway — it truncates lineage (no 6-stage mega-plan), it
lets each stage pick its own parallelism, and AQE re-plans per stage.
Reference parity: the reference's multi-task jobs checkpoint per task in
run_history (client.py:299-319); this runner is the same contract at
stage granularity.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datapact_spark.ledger import committed
from datapact_spark.session import cache_scope
from datapact_spark.sources.loader import read_parquet


@dataclass
class Stage:
    """One pipeline stage: a name and a DataFrame transform. ``fn``
    receives the previous stage's (materialized) output."""

    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class StageResult:
    stage: str
    index: int
    path: str
    resumed: bool          # True = satisfied from a committed checkpoint
    rows: int | None       # counted only for freshly-computed stages
    seconds: float


class PipelineRunner:
    """Run ``stages`` over a source DataFrame with stage-boundary
    materialization and exactly-at-boundary resume.

    A fresh stage costs the jobs of its own write and nothing more: its
    row count rides the write as an ``Observation`` (a
    ``count(lit(1))`` metric read once the write has returned), and the
    next stage reads the parquet back with the schema the stage already
    has, so neither a schema-inference job nor a separate ``count()``
    runs. A resumed stage is read with an inferred schema and reports
    ``rows=None``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _stage_dir(self, key: str, run_id: int, idx: int, name: str) -> str:
        return os.path.join(
            self.root, key, f"run_id={run_id}", f"stage_{idx:02d}_{name}"
        )

    def run(
        self,
        key: str,
        run_id: int,
        source: DataFrame,
        stages: list[Stage],
        ledger=None,
        job_name: str = "pipeline",
    ) -> tuple[DataFrame, list[StageResult]]:
        """Execute (or resume) the pipeline. Returns the final stage's
        materialized DataFrame plus per-stage results.

        Resume contract: stages with a committed checkpoint are READ,
        never recomputed — their ``fn`` is not even invoked, so a code
        edit to an earlier stage does not silently invalidate a
        half-finished run (bump ``run_id`` to recompute from scratch).
        The first uncommitted stage recomputes from the previous
        stage's parquet (idempotent overwrite of a possibly torn dir).
        """
        if not stages:
            raise ValueError("pipeline needs at least one stage")
        names = [s.name for s in stages]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stage names: {names}")

        results: list[StageResult] = []
        prev: DataFrame = source
        for idx, st in enumerate(stages):
            d = self._stage_dir(key, run_id, idx, st.name)
            t0 = time.monotonic()
            if committed(d):
                prev = self.spark.read.parquet(d)
                results.append(StageResult(
                    stage=st.name, index=idx, path=d, resumed=True,
                    rows=None, seconds=round(time.monotonic() - t0, 4),
                ))
                continue
            # the scope releases the stage operator's mid-plan persists
            # (e.g. strip_boilerplate's boiler hash set) once the write
            # lands — the parquet checkpoint is the durable copy
            obs = Observation(f"stage_{idx:02d}_{st.name}")
            with cache_scope():
                out = st.fn(prev)
                # the write is the materialization, the checkpoint and
                # the row count (_SUCCESS only lands on success; a kill
                # leaves no marker)
                out.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                    "overwrite").parquet(d)
            # only now: obs.get blocks until the write's metrics arrive,
            # and a failed write has raised before reaching this line
            rows = obs.get["rows"]
            prev = read_parquet(self.spark, d, out.schema)
            results.append(StageResult(
                stage=st.name, index=idx, path=d, resumed=False,
                rows=rows, seconds=round(time.monotonic() - t0, 4),
            ))
        if ledger is not None:
            self._append_lineage(ledger, key, run_id, job_name, results)
        return prev, results

    def lineage_rows(self, key: str, run_id: int,
                     job_name: str, results: list[StageResult]) -> list[dict]:
        """One run-history row per stage — INCLUDING resumed stages.
        ``ledger.append`` is an idempotent dynamic-partition overwrite
        of the run_id partition, so a resumed attempt writing only its
        fresh stages would WIPE the prior attempt's rows for this run;
        rewriting the full stage picture each attempt keeps both the
        overwrite idempotence and the complete lineage (resumed stages
        are flagged in the payload with a null row count — no job is
        spent re-counting a committed checkpoint). Exposed separately
        from the append so a caller running SEVERAL pipelines under one
        run_id can collect every pipeline's rows and append ONCE — a
        per-pipeline append would overwrite the shared run_id partition
        and keep only the last pipeline's history."""
        import datetime as dt
        import json

        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        return [
            {
                "task_key": f"{key}.{r.stage}",
                "status": "SUCCESS",
                "run_id": run_id,
                "job_name": job_name,
                "job_start_ts": now,
                "validation_begin_ts": now,
                "validation_complete_ts": now,
                "source_table": key,
                "target_table": r.path,
                "result_payload": json.dumps(
                    {"stage_index": r.index, "rows": r.rows,
                     "seconds": r.seconds, "resumed": r.resumed}
                ),
            }
            for r in results
        ]

    def _append_lineage(self, ledger, key: str, run_id: int,
                        job_name: str, results: list[StageResult]) -> None:
        from datapact_spark.ledger import LEDGER_SCHEMA

        rows = self.lineage_rows(key, run_id, job_name, results)
        if rows:
            ledger.append(self.spark.createDataFrame(rows, LEDGER_SCHEMA))


def build_stages(spec) -> list[Stage]:
    """Compile a ``config.PipelineSpec`` into runnable ``Stage``s.

    Every kind maps to the engine's own operator (the declarative twin
    of the hand-written ``corpus_pipeline`` oracle query). Column
    contract: document stages keep ``(id_column, text_column)``;
    ``chunk`` replaces it with ``(id, chunk_id, chunk_tokens,
    chunk_text)``; ``pack`` appends the shard/sequence assignment.
    Duplicate kinds get ``_2``/``_3`` name suffixes so the stage dirs
    stay unique."""
    idc, txt = spec.id_column, spec.text_column
    stages: list[Stage] = []
    used: dict[str, int] = {}

    def add(name: str | None, kind: str, fn) -> None:
        base = name or kind
        used[base] = used.get(base, 0) + 1
        stages.append(
            Stage(base if used[base] == 1 else f"{base}_{used[base]}", fn)
        )

    for st in spec.stages:
        k = st.kind
        if k == "filter":
            if not st.where:
                raise ValueError("filter stage requires `where`")
            where = st.where
            add(st.name, k, lambda df, w=where: df.where(F.expr(w)))
        elif k == "lang_filter":
            if not st.keep_langs:
                raise ValueError("lang_filter stage requires `keep_langs`")
            langs = list(st.keep_langs)

            def _lang(df, langs=langs):
                from datapact_spark.operators.textops import lang_id

                return (
                    lang_id(df, text_col=txt)
                    .where(F.col("detected_lang").isin(*langs))
                    .drop("detected_lang")
                )

            add(st.name, k, _lang)
        elif k == "strip_boilerplate":
            md = st.min_docs

            def _strip(df, md=md):
                from datapact_spark.operators.dedup import strip_boilerplate

                return (
                    strip_boilerplate(df, id_col=idc, text_col=txt, min_docs=md)
                    .where(F.col("cleaned_text") != "")
                    .select(F.col(idc), F.col("cleaned_text").alias(txt))
                )

            add(st.name, k, _strip)
        elif k == "redact_pii":

            def _redact(df):
                from datapact_spark.operators.textops import redact_pii

                return redact_pii(df, text_col=txt)

            add(st.name, k, _redact)
        elif k == "exact_dedup":

            def _dedup(df):
                # min_by keeps the MIN-id row's text (deterministic);
                # first() would be encounter-order-dependent across
                # whitespace-variant duplicates
                return (
                    df.withColumn(
                        "__f",
                        F.md5(F.lower(F.regexp_replace(F.trim(txt), r"\s+", " "))),
                    )
                    .groupBy("__f")
                    .agg(
                        F.min(idc).alias(idc),
                        F.min_by(txt, F.col(idc)).alias(txt),
                    )
                    .drop("__f")
                )

            add(st.name, k, _dedup)
        elif k == "split":
            if not st.fractions or not st.keep:
                raise ValueError("split stage requires `fractions` and `keep`")
            if st.keep not in st.fractions:
                raise ValueError(
                    f"split keep={st.keep!r} not in fractions "
                    f"{sorted(st.fractions)}"
                )
            fr, keep = dict(st.fractions), st.keep

            def _split(df, fr=fr, keep=keep):
                from datapact_spark.operators.sampling import deterministic_split

                return (
                    deterministic_split(df, fr, id_col=idc)
                    .where(F.col("split") == keep)
                    .drop("split")
                )

            add(st.name, k, _split)
        elif k == "chunk":
            mt, ov = st.max_tokens, st.overlap

            def _chunk(df, mt=mt, ov=ov):
                from datapact_spark.operators.textops import chunk_documents

                return chunk_documents(
                    df, id_col=idc, text_col=txt, max_tokens=mt, overlap=ov
                )

            add(st.name, k, _chunk)
        elif k == "pack":
            cl, sh = st.context_len, st.shards

            def _pack(df, cl=cl, sh=sh):
                from datapact_spark.operators.textops import pack_sequences

                return pack_sequences(df, context_len=cl, shards=sh)

            add(st.name, k, _pack)
        else:  # pragma: no cover — PipelineStageSpec validates kinds
            raise ValueError(f"unknown stage kind {k!r}")
    return stages
