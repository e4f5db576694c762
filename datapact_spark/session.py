"""SparkSession builder with scale-oriented defaults.

AQE (runtime re-planning, skew-join splitting, partition coalescing) and
Arrow-batched Python UDF transfer are on by default — these are the
settings the engine assumes at 100 TB scale and they are equally correct
on local[N].

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every Column/DataFrame call walks the Python stack and makes several py4j
round trips (active session, the stack-depth conf, origin set and
clear); compiling a dozen validation tasks paid ~8k of them, about
two-thirds of the driver's gateway traffic. What is lost is the Python
line in the "== DataFrame ==" block that runtime errors (e.g. ANSI
``DIVIDE_BY_ZERO``) carry: it names the line that built the failing
expression, which here is always a line inside datapact, never the
user's YAML; with capture off the block names a JVM frame instead.
Analysis errors (``UNRESOLVED_COLUMN`` with the column name and
suggestions) read the same either way. Re-enable capture with
``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"})``; PySpark reads the setting once per Python process, from the
first active session.

Cached intermediates have one owner: operators pin them with
``persist_scoped`` and the enclosing ``cache_scope`` releases them.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "datapact-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with validation-engine defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("DATAPACT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: coalesce small shuffle partitions, split skewed ones.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Arrow batching for the few pandas UDFs (sketches, sha256 fallback).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # FAIR scheduling so concurrent validation tasks share the cluster.
        "spark.scheduler.mode": "FAIR",
        # Timestamps: engine contract is UTC, session-stable.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.compression.codec": "snappy",
        # Generated-class cache sized to a run (static conf: applies when
        # the session is created). One validation run of a dozen tasks
        # generates ~300 distinct whole-stage classes; the 100-entry
        # default evicts them before the next run, which then pays ~300
        # janino compiles again — driver planning, not scans, was most of
        # a warm run's time. At 1000 a repeated suite (scheduled runs,
        # micro-batches) compiles only what changed.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # The cache is keyed by source text, and by default the class
        # name embeds the codegen stage id, which AQE assigns in stage
        # materialization order — an order that changes from run to run
        # when tasks plan concurrently. Identical code then misses the
        # cache (measured: 23-35 warm recompiles of a 5-task suite vs a
        # steady 13 with stable names).
        "spark.sql.codegen.useIdInClassName": "false",
        # No per-call Python call-site capture (module docstring).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.memory": os.environ.get("DATAPACT_DRIVER_MEM", "8g"),
    }
    if os.environ.get("DATAPACT_LOCAL_DIR"):
        # shuffle/spill directory — point at fast storage (NVMe, tmpfs)
        conf["spark.local.dir"] = os.environ["DATAPACT_LOCAL_DIR"]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class _Scopes(threading.local):
    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_scopes = _Scopes()
_unscoped: list[DataFrame] = []
_unscoped_lock = threading.Lock()


def _unpersist_all(owned: list[DataFrame]) -> int:
    for df in owned:
        df.unpersist()
    return len(owned)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Own every relation ``persist_scoped`` pins inside the block and
    unpersist them all on exit, normal or by exception. Scopes nest and
    are thread-local: an inner scope releases only its own relations,
    and a scope opened in one pool thread never sees another thread's.
    Open one around the code that materializes (collect / write) a
    result; frames derived from a released relation stay valid and
    simply recompute."""
    owned: list[DataFrame] = []
    _scopes.stack.append(owned)
    try:
        yield
    finally:
        _scopes.stack.pop()
        _unpersist_all(owned)


def persist_scoped(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Persist ``df`` (default level: ``DataFrame.persist``'s own) and
    register it with the innermost open ``cache_scope`` of this thread;
    outside any scope it joins the session-wide list that
    ``release_cached`` drains."""
    df = df.persist(level)
    if _scopes.stack:
        _scopes.stack[-1].append(df)
    else:
        with _unscoped_lock:
            _unscoped.append(df)
    return df


def release_cached(df: DataFrame | None = None) -> int:
    """Unpersist every relation ``persist_scoped`` pinned outside any
    ``cache_scope`` and return how many. For callers that materialize a
    result without a scope (``bench.py``, ``tools/``); ``df`` is
    accepted for their call shape and not used."""
    with _unscoped_lock:
        owned = _unscoped[:]
        _unscoped.clear()
    return _unpersist_all(owned)
