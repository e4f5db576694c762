"""Streaming-facing pieces.

The reference has NO streaming operators (SURVEY.md §2.10) — its
"streaming telemetry" demo table is validated as a batch table. What
the north star calls resume/checkpointing is *batch* checkpointing: a
partitioned task's verdicts commit once per run
(``datapact_spark.ledger.CheckpointStore``, written by
``DataPactEngine.run_partitioned``) and pipeline stages commit one by
one (``datapact_spark.pipeline``), both by ``ledger.committed``.

This package holds the incremental-validation entry points: continuous
re-validation of a growing table via Structured Streaming
(micro-batched foreachBatch over the same compiled checks).
"""
