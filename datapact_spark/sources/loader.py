"""Table resolution: config table refs → DataFrames.

The reference reads Unity Catalog 3-part FQNs (validation.sql.j2:3-4).
Here a ref resolves, in order:

1. an explicitly registered DataFrame or path (``resolver.register``),
2. a Spark catalog table (``spark.read.table`` — covers Iceberg/Delta/
   Hive catalogs on a real cluster),
3. a filesystem path (``*.parquet`` file/dir, or a directory).

This keeps the engine catalog-agnostic: on the target cluster the same
config reads Iceberg tables; in the sandbox it reads the driver's
parquet test data.

Every resolve of a path or catalog ref is a new read (a file listing
and, for parquet, a schema-inference job). The engine therefore takes a
``scoped`` resolver per run, which reads each distinct ref once and
hands every task the same DataFrame.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import Future

from pyspark.sql import DataFrame, SparkSession

SF_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def parse_iceberg_ref(spec: str) -> tuple[str, dict[str, str]]:
    """Parse an ``iceberg:`` table ref into (table, reader options).

    ``iceberg:db.tbl`` — current snapshot;
    ``iceberg:db.tbl@snapshot=12345`` — a pinned snapshot id
    (``snapshot-id`` reader option);
    ``iceberg:db.tbl@as-of=2026-01-01T00:00:00`` — time travel
    (``as-of-timestamp``, millis or ISO accepted by the runtime).

    Snapshot refs are what make Iceberg the north-star source: a
    validation task can compare a table AGAINST ITS OWN earlier
    snapshot (source = pinned, target = current) with no second copy
    of the data."""
    name, _, opt = spec.partition("@")
    if not name:
        raise ValueError(f"empty iceberg table ref: 'iceberg:{spec}'")
    if not opt:
        return name, {}
    key, sep, val = opt.partition("=")
    key_map = {"snapshot": "snapshot-id", "as-of": "as-of-timestamp"}
    if key not in key_map or not sep or not val:
        raise ValueError(
            f"iceberg ref option must be snapshot=<id> or as-of=<ts>, got {opt!r}"
        )
    return name, {key_map[key]: val}


class TableResolver:
    """Maps config table refs to DataFrames."""

    def __init__(self, spark: SparkSession, base_dir: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        self._registry: dict[str, DataFrame] = {}
        self._paths: dict[str, str] = {}
        # ref -> its one read; None outside a ``scoped`` copy
        self._reads: dict[str, Future] | None = None
        self._lock = threading.Lock()

    def scoped(self) -> TableResolver:
        """A copy of this resolver that reads each distinct ref at most
        once. Take one per run and share it across the run's tasks; the
        next run takes a new one, so it sees rewritten files.

        Thread-safe: tasks resolving the same ref concurrently wait for
        one read. A ref whose read fails raises that error in every task
        that resolves it, and in no other."""
        run = TableResolver(self.spark, self.base_dir)
        run._registry = dict(self._registry)
        run._paths = dict(self._paths)
        run._reads = {}
        return run

    def _read_iceberg(self, spec: str) -> DataFrame:
        name, options = parse_iceberg_ref(spec)
        reader = self.spark.read.format("iceberg")
        for k, v in options.items():
            reader = reader.option(k, v)
        try:
            return reader.table(name)
        except Exception as e:  # noqa: BLE001
            if "DATA_SOURCE_NOT_FOUND" in str(e) or "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                raise RuntimeError(
                    f"cannot resolve iceberg table {name!r}: either the "
                    "iceberg-spark-runtime jar + catalog config "
                    "(spark.sql.catalog.*) are missing from this cluster, "
                    "or the table does not exist in the configured "
                    "catalog. Drop the 'iceberg:' prefix to resolve "
                    "through the session catalog / parquet fallback "
                    "(snapshot/as-of options are iceberg-only)."
                ) from e
            raise

    def register(self, name: str, df_or_path: DataFrame | str) -> None:
        if isinstance(df_or_path, str):
            self._paths[name] = df_or_path
        else:
            self._registry[name] = df_or_path

    def resolve(self, ref: str) -> DataFrame:
        if self._reads is None:
            return self._read(ref)
        with self._lock:
            read = self._reads.get(ref)
            first = read is None
            if first:
                read = self._reads[ref] = Future()
        if first:
            try:
                read.set_result(self._read(ref))
            except Exception as e:  # noqa: BLE001 — re-raised to each caller
                read.set_exception(e)
        return read.result()

    def _read(self, ref: str) -> DataFrame:
        if ref in self._registry:
            return self._registry[ref]
        if ref.startswith("iceberg:"):
            return self._read_iceberg(ref[len("iceberg:"):])
        if ref in self._paths:
            return self._read_path(self._paths[ref])
        # bare name under base_dir (sandbox layout: <dir>/<name>.parquet)
        if self.base_dir:
            candidate = os.path.join(self.base_dir, f"{ref}.parquet")
            if os.path.exists(candidate):
                return self.spark.read.parquet(candidate)
        # filesystem path
        if os.path.exists(ref):
            return self._read_path(ref)
        # catalog table (Iceberg / Delta / Hive / temp view)
        return self.spark.read.table(ref)

    def _read_path(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def catalog_name(self, ref: str) -> str | None:
        """The session-catalog table name behind ``ref``, or None when
        the ref resolves to a registered DataFrame / filesystem path
        (those carry no bucketing metadata)."""
        if ref in self._registry or ref in self._paths:
            return None
        if self.base_dir and os.path.exists(
            os.path.join(self.base_dir, f"{ref}.parquet")
        ):
            return None
        if os.path.exists(ref):
            return None
        return ref

    def colocation(self, ref_a: str, ref_b: str, join_cols: list[str]) -> bool | None:
        """Tri-state co-location check for a planned equi-join:
        True  — both refs are catalog tables bucketed by exactly
                ``join_cols`` with equal bucket counts (the PK join
                plans with zero Exchange on either side);
        False — both are catalog tables but NOT co-bucketed (the join
                will shuffle both sides; consider
                ``sources.bucketed.write_bucketed``);
        None  — not determinable (registered DataFrames / bare paths)."""
        from datapact_spark.sources.bucketed import is_colocated

        a, b = self.catalog_name(ref_a), self.catalog_name(ref_b)
        if a is None or b is None:
            return None
        try:
            return is_colocated(self.spark, a, b, join_cols)
        except Exception:
            return None


def load_sf_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver test-data tables present in ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in SF_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out
