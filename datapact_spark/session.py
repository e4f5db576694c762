"""SparkSession builder with scale-oriented defaults.

AQE (runtime re-planning, skew-join splitting, partition coalescing) and
Arrow-batched Python UDF transfer are on by default — these are the
settings the engine assumes at 100 TB scale and they are equally correct
on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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


def track_cached(out, *cached):
    """Attach mid-plan persisted relations to the DataFrame that
    consumes them, so the caller that MATERIALIZES the result can
    release them (``release_cached``) instead of pinning executor
    storage for the whole session — the leak class behind the r4
    ``dup_clusters`` bug. The handle rides the same ``_datapact_cached``
    attribute the partitioned-verdict engine hands off."""
    existing = list(getattr(out, "_datapact_cached", None) or [])
    out._datapact_cached = existing + list(cached)
    return out


def release_cached(df) -> int:
    """Unpersist every relation ``track_cached`` attached to ``df``.
    Call AFTER materializing (collect / write); returns how many
    relations were released. Safe on DataFrames with no handle."""
    cached = getattr(df, "_datapact_cached", None) or []
    if not isinstance(cached, list):
        cached = [cached]
    for c in cached:
        c.unpersist()
    df._datapact_cached = []
    return len(cached)


def propagate_cached(src, dst):
    """Move the ``_datapact_cached`` handle from ``src`` onto ``dst`` —
    use when a wrapper derives a new DataFrame (select/alias/orderBy)
    from a handle-carrying one, which would otherwise orphan the
    persisted relations."""
    cached = getattr(src, "_datapact_cached", None) or []
    if not isinstance(cached, list):
        # a bare DataFrame handle would star-unpack into its Columns
        cached = [cached]
    return track_cached(dst, *cached)
