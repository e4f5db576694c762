"""Results ledger + checkpoint store (filesystem parquet).

The reference appends one row per task to a Delta table
``datapact.results.run_history`` (client.py:299-319) and refreshes exec
tables idempotently by run_id (aggregate_results.sql.j2:157-221). In
the sandbox there's no transactional table format, so:

* the run-history ledger is a parquet dataset partitioned by ``run_id``
  (append = write a new run partition; idempotent re-run = dynamic
  partition overwrite of just that run_id);
* a partitioned task's verdicts are checkpointed under
  ``checkpoints/<task_key>/run_id=<id>/`` with one write per run; a
  resumed run reads a ``committed`` checkpoint back and rewrites one
  that is not.

On a real cluster, swap the writes for Delta/Iceberg ``MERGE``/
``replaceWhere`` — the engine code above this layer is unchanged.

Ledger timestamps are driver clock readings (naive UTC).
``validation_begin_ts`` is taken when the task is compiled and
``validation_complete_ts`` right after its verdict row is collected, so
their difference is the task's planning plus execution time. Before the
ledger row was built on the driver (``CompiledTask.ledger_row``),
``validation_complete_ts`` was ``current_timestamp()`` inside the task
plan — fixed at query start, before the scan ran.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = (
    "task_key string, status string, run_id long, job_id long, job_name string, "
    "job_start_ts timestamp, validation_begin_ts timestamp, "
    "validation_complete_ts timestamp, source_catalog string, source_schema string, "
    "source_table string, target_catalog string, target_schema string, "
    "target_table string, business_domain string, business_owner string, "
    "business_priority string, expected_sla_hours double, "
    "estimated_impact_usd double, result_payload string"
)
LEDGER_COLUMNS = [c.split()[0] for c in LEDGER_SCHEMA.split(", ")]


def committed(path: str) -> bool:
    """A written directory counts as committed once Spark's ``_SUCCESS``
    marker exists: the marker lands only when the write's job commits,
    so a kill mid-write leaves none."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class ResultsLedger:
    """Append-only run-history ledger."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.history_path = os.path.join(path, "run_history")

    def append(self, rows: DataFrame) -> None:
        """Idempotent per-run write: dynamic partition overwrite replaces
        only the run_id partitions present in ``rows`` — re-running a run
        id replaces its rows instead of duplicating them (the reference's
        DELETE WHERE run_id + INSERT contract, aggregate_results.sql.j2:
        157-221), and streaming micro-batch retries become exactly-once."""
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .parquet(self.history_path)
        )

    def read(self) -> DataFrame:
        if not os.path.exists(self.history_path):
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        df = self.spark.read.parquet(self.history_path)
        # partition column comes back typed; normalize to long
        return df.withColumn("run_id", F.col("run_id").cast("long"))

    def run_results(self, run_id: int) -> DataFrame:
        # run_id is the partition key → partition pruning, no full scan.
        return self.read().where(F.col("run_id") == run_id)

    def write_exec_table(self, name: str, df: DataFrame, run_id: int) -> None:
        """Idempotent per-run refresh: overwrite only this run's
        subdirectory (DELETE WHERE run_id + INSERT parity)."""
        out = os.path.join(self.path, name, f"run_id={run_id}")
        df.drop("run_id").write.mode("overwrite").parquet(out)

    def read_exec_table(self, name: str) -> DataFrame:
        return self.spark.read.option("basePath", os.path.join(self.path, name)).parquet(
            os.path.join(self.path, name)
        )

    def write_violations(self, run_id: int, task_key: str, kind: str, df: DataFrame) -> None:
        out = os.path.join(self.path, "violations", f"run_id={run_id}", task_key, kind)
        df.write.mode("overwrite").parquet(out)


class BaselineStore:
    """Baseline distribution snapshots for drift checks (north-star:
    'sketches compared against baseline snapshots'). One mergeable
    histogram per (task, column), stored beside the ledger; first run
    bootstraps it, later runs compare against it."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, task_key: str, column: str) -> str:
        return os.path.join(self.path, "baselines", task_key, column)

    def exists(self, task_key: str, column: str) -> bool:
        return committed(self._dir(task_key, column))

    def read(self, task_key: str, column: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(task_key, column))

    def write(self, task_key: str, column: str, snapshot: DataFrame) -> None:
        snapshot.write.mode("overwrite").parquet(self._dir(task_key, column))


class IvfIndexStore:
    """Persisted IVF ANN index (north-star similarity-search reuse):
    one directory per index name holding

    * ``centroids/`` — the (nlist, dim) coarse quantizer as nlist tiny
      parquet rows (list_id, centroid array<double>);
    * ``corpus/`` — the corpus assignment table
      (neighbor_id, c_vec, list_id), parquet PARTITIONED BY list_id so
      a probe of ``nprobe`` lists prunes every other list's files at
      the scan.

    A production pipeline queries the same corpus repeatedly; building
    the index (centroid training + one corpus GEMM pass) once and
    serving every later query batch from the stored assignments removes
    the dominant cost — the same lifecycle pattern as ``BaselineStore``.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, name: str) -> str:
        return os.path.join(self.path, "ann_index", name)

    def exists(self, name: str) -> bool:
        d = self._dir(name)
        return committed(os.path.join(d, "centroids")) and committed(
            os.path.join(d, "corpus")
        )

    def write(
        self, name: str, centroids, assigned: DataFrame, meta: dict | None = None
    ) -> None:
        """``centroids``: (nlist, dim) ndarray; ``assigned``: the
        ``similarity.ivf_assignments`` output for the corpus; ``meta``:
        optional JSON-serializable build metadata (the freshness probe
        stores the corpus fingerprint — row count + commutative id
        hash — here; see ``similarity.corpus_fingerprint``)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self._dir(name)
        # centroids are nlist driver-side rows — write them directly
        # with pyarrow (a Spark job for 8 rows costs seconds of pure
        # scheduling overhead); Spark reads the file back fine
        cdir = os.path.join(d, "centroids")
        os.makedirs(cdir, exist_ok=True)
        tbl = pa.table(
            {
                "list_id": pa.array(range(len(centroids)), pa.int64()),
                "centroid": pa.array(
                    [[float(x) for x in row] for row in centroids],
                    pa.list_(pa.float64()),
                ),
            }
        )
        pq.write_table(tbl, os.path.join(cdir, "part-00000.parquet"))
        open(os.path.join(cdir, "_SUCCESS"), "w").close()
        (
            # repartition on the partition column: each list is written
            # by one task => nlist files, not tasks x nlist
            assigned.repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(d, "corpus"))
        )
        if meta is not None:
            import json

            with open(os.path.join(d, "meta.json"), "w") as f:
                json.dump(meta, f)

    def read_meta(self, name: str) -> dict | None:
        """Build metadata written alongside the index (None for indexes
        written before meta existed, or when the build passed none)."""
        import json

        p = os.path.join(self._dir(name), "meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(self, name: str):
        """Returns (centroids ndarray, assigned DataFrame)."""
        import numpy as np

        cent_rows = (
            self.spark.read.parquet(os.path.join(self._dir(name), "centroids"))
            .orderBy("list_id")
            .collect()
        )  # nlist rows — bounded by config, never by corpus size
        cents = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
        assigned = self.spark.read.parquet(
            os.path.join(self._dir(name), "corpus")
        ).select("neighbor_id", "c_vec", "list_id")
        return cents, assigned


class MinHashIndexStore:
    """Persisted MinHash LSH band index for incremental near-dup ingest
    (the continuous-crawl lifecycle): one directory per index name
    holding the corpus band relation ``(id, band, band_hash)`` parquet
    PARTITIONED BY band, plus ``meta.json`` with the signature
    parameters (num_hashes / bands / shingle_n / seed) and the corpus
    fingerprint for staleness detection.

    A training pipeline dedups every new crawl increment against the
    SAME multi-trillion-row corpus; rebuilding the corpus signatures per
    increment is the dominant cost. This store materializes the band
    hashes once; ``operators.dedup.probe_near_dups`` then broadcasts the
    increment's bands against it — the corpus is never reshuffled — and
    ``append`` folds accepted documents into the index so the next
    increment sees them."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, name: str) -> str:
        return os.path.join(self.path, "minhash_index", name)

    def exists(self, name: str) -> bool:
        d = os.path.join(self._dir(name), "bands")
        return committed(d) or committed(os.path.join(d, "ingest=base"))

    def write(self, name: str, band_rows: DataFrame, meta: dict) -> None:
        """``band_rows``: the corpus ``minhash_band_hashes`` output;
        ``meta`` MUST carry the signature params — the probe refuses an
        index whose params it cannot verify. Layout:
        ``bands/ingest=base/band=<b>/`` — increments land beside the
        base under their own ``ingest=`` keys (see ``append``)."""
        import json

        required = {"num_hashes", "bands", "shingle_n", "seed"}
        missing = required - set(meta)
        if missing:
            raise ValueError(f"meta missing signature params: {sorted(missing)}")
        d = self._dir(name)
        (
            band_rows.repartition("band")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(os.path.join(d, "bands", "ingest=base"))
        )
        # partition discovery needs _SUCCESS at the probe level the
        # exists() check uses
        open(os.path.join(d, "bands", "_SUCCESS"), "w").close()
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)

    def append(self, name: str, band_rows: DataFrame,
               ingest_key: str | int = "adhoc") -> None:
        """Fold newly-accepted documents into the index (same signature
        params as the build — the caller just admitted them through a
        probe, so they are already computed). ``ingest_key`` names the
        increment's subdirectory and the write OVERWRITES it, so a
        replayed streaming batch (checkpoint recovery) re-appends
        idempotently instead of duplicating band rows — pass the batch
        id from foreachBatch."""
        if not self.exists(name):
            raise ValueError(f"minhash index {name!r} does not exist")
        (
            band_rows.repartition("band")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(os.path.join(
                self._dir(name), "bands", f"ingest={ingest_key}"
            ))
        )

    def read_meta(self, name: str) -> dict | None:
        import json

        p = os.path.join(self._dir(name), "meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(self, name: str) -> DataFrame:
        root = os.path.join(self._dir(name), "bands")
        df = self.spark.read.option("basePath", root).parquet(root)
        # partition columns (ingest, band) come back typed; keep only
        # the probe's contract columns, band normalized to int
        return df.select(
            "id", F.col("band").cast("int").alias("band"), "band_hash"
        )


class CheckpointStore:
    """Per-run checkpoint of a partitioned task's verdicts.

    ``commit`` writes the run's whole verdict set under
    ``checkpoints/<task_key>/run_id=<id>/`` in one overwrite
    (``write_batches``), and the directory counts as committed once
    Spark's ``_SUCCESS`` marker exists. A kill mid-write leaves no
    marker, so a resume rewrites the torn attempt; a committed run is
    only read back (``read_verdicts``).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, task_key: str, run_id: int) -> str:
        return os.path.join(self.path, "checkpoints", task_key, f"run_id={run_id}")

    def commit(
        self,
        task_key: str,
        run_id: int,
        verdicts: Callable[[], DataFrame],
        resume: bool = True,
    ) -> DataFrame:
        """The run's committed verdicts. Unless ``resume`` is set and the
        run is already committed, ``verdicts()`` is built and written
        first."""
        if not (resume and committed(self._dir(task_key, run_id))):
            self.write_batches(task_key, run_id, verdicts())
        return self.read_verdicts(task_key, run_id)

    def write_batches(self, task_key: str, run_id: int, verdicts: DataFrame) -> None:
        verdicts.write.mode("overwrite").parquet(self._dir(task_key, run_id))

    def finalize_batch(self, *_) -> None:
        """No-op: ``perfbench/layers.py:44`` still wraps this name."""

    def read_verdicts(self, task_key: str, run_id: int) -> DataFrame:
        return self.spark.read.parquet(self._dir(task_key, run_id))
