"""datapact_spark — a PySpark-native declarative data-validation engine.

A from-scratch reimplementation of the capabilities of
skyler-myers-db/datapact (reference at /root/reference) on Apache Spark.
The reference compiles YAML validation configs into SQL text executed on
Databricks Serverless SQL; this engine compiles the same declarative
config into native PySpark DataFrame plans (Catalyst-optimized, AQE-aware)
and runs them on any Spark cluster.

Design pillars (see SURVEY.md):
  * one single-pass aggregate per table side for all profile checks
    (count / null / agg / uniqueness) — reference validation.sql.j2:121-187
  * PK-join row-hash compare and null-parity joins — j2:190-241
  * custom-SQL dataset diffs via exceptAll + order-insensitive
    fingerprints — j2:250-302
  * referential-integrity anti-joins with violation materialization
    (north-star addition, BASELINE.json)
  * distribution-drift sketches vs baseline snapshots (PSI/KS)
  * per-partition verdicts checkpointed once per run (resume reads a
    committed run back), partial aggregation for skewed group keys
"""

from datapact_spark.config import (
    AggValidation,
    AggValidationDetail,
    CustomSqlTest,
    DataPactConfig,
    DriftCheck,
    ReferentialCheck,
    ValidationTask,
    load_config,
)
from datapact_spark.engine import DataPactEngine, RunResult
from datapact_spark.session import get_spark

__version__ = "0.1.0"

__all__ = [
    "AggValidation",
    "AggValidationDetail",
    "CustomSqlTest",
    "DataPactConfig",
    "DriftCheck",
    "ReferentialCheck",
    "ValidationTask",
    "load_config",
    "DataPactEngine",
    "RunResult",
    "get_spark",
    "__version__",
]
