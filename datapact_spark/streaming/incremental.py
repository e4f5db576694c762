"""Incremental / continuous validation via Structured Streaming.

The reference validates only static tables (SURVEY.md §2.10). For a
continuously-growing source (e.g. new crawl shards of the code table)
this module adds two Spark-native modes:

* ``validate_stream`` — ``readStream → foreachBatch``: every micro-batch
  is validated against the (static) reference side with the SAME
  compiled checks as a batch run; one verdict row per micro-batch is
  appended to the results ledger. Exactly-once bookkeeping comes from
  the streaming checkpoint (batch ids are stable across restarts, and
  the ledger write is idempotent per (task, batch)).

* ``windowed_profile`` — a watermarked tumbling-window stats profile
  (count / nulls / aggs per event-time window): the single-pass profile
  shape, expressed as a streaming aggregation so late data within the
  watermark is folded into the right window.

* ``drift_monitor_stream`` / ``categorical_drift_monitor_stream`` —
  per-micro-batch t-digest (or category-count) drift vs a RUNNING
  baseline, folded replay-safely by one shared ``foreachBatch`` loop
  (north-star mergeable-sketch lifecycle, continuous edition).

* ``windowed_drift_profile`` / ``windowed_drift_scores`` — per-event-
  time-window drift: windows are binned on the stored baseline's grid
  as a plain watermarked aggregation, and scored per window with the
  same PSI/KS arithmetic as batch grouped drift.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datapact_spark.config import ValidationTask
from datapact_spark.plans.compiler import compile_task
from datapact_spark.sources.loader import TableResolver


def _partition_has_parquet(spark: SparkSession, root: str, batch_id: int) -> bool:
    """True when the verdict partition ``batch_id=<id>`` already holds a
    committed parquet file.  Resolved through the Hadoop FileSystem API
    so replay detection works on ANY filesystem Spark can write to
    (HDFS, S3A, local, ...) — an ``os.listdir`` probe silently returns
    False for non-local storage, and a checkpoint replay would then
    overwrite the honest original verdict with a self-compared
    (artificially low) score."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{root}/batch_id={batch_id}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    return any(
        st.getPath().getName().endswith(".parquet")
        for st in fs.listStatus(path)
    )


def _dir_has_parquet(spark: SparkSession, root: str) -> bool:
    """True when ``root`` exists and holds at least one committed
    parquet file anywhere below it (one level of batch=N subdirs).
    Hadoop-FS resolved, same portability rationale as
    ``_partition_has_parquet``."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    for st in fs.listStatus(path):
        if st.getPath().getName().endswith(".parquet"):
            return True
        if st.isDirectory():
            for sub in fs.listStatus(st.getPath()):
                if sub.getPath().getName().endswith(".parquet"):
                    return True
    return False


def _start_foreach_batch(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
):
    """Start ``stream_df.writeStream.foreachBatch(process)`` on
    ``checkpoint_dir``; ``available_now`` drains what is there and
    stops. Returns the StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def validate_stream(
    spark: SparkSession,
    task: ValidationTask,
    resolver: TableResolver,
    stream_df: DataFrame,
    results_path: str,
    checkpoint_dir: str,
    job_name: str = "datapact_stream",
    trigger_available_now: bool = True,
    on_batch: Callable[[int, str, bool], None] | None = None,
):
    """Validate each micro-batch of ``stream_df`` as the task's source.

    The task's ``source`` ref is bound to the micro-batch inside
    ``foreachBatch``; the ``target`` resolves through ``resolver`` as
    usual (a static reference table). Returns the StreamingQuery.
    """
    from datapact_spark.ledger import LEDGER_SCHEMA, ResultsLedger

    # per-stream ledger subdirectory: micro-batch run_ids are batch ids,
    # which collide across different streaming tasks — and the ledger's
    # idempotent write overwrites per run_id partition, so two streams
    # sharing one path would wipe each other's batches
    ledger = ResultsLedger(spark, os.path.join(results_path, f"stream_{task.task_key}"))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        job_start_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        batch_resolver = resolver.scoped()
        batch_resolver.register(task.source_ref, batch_df)
        compiled = compile_task(spark, task, batch_resolver)
        row = compiled.ledger_row(
            compiled.metrics_df.collect()[0],
            run_id=batch_id,
            job_id=batch_id,
            job_name=job_name,
            job_start_ts=job_start_ts,
        )
        ledger.append(spark.createDataFrame([row], LEDGER_SCHEMA))
        if on_batch is not None:
            on_batch(batch_id, row["status"], row["status"] == "SUCCESS")

    return _start_foreach_batch(stream_df, _process, checkpoint_dir, trigger_available_now)


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_SESSION_STATE_SCHEMA = (
    "starts array<long>, lasts array<long>, ns array<long>"
)


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "24 hours",
) -> DataFrame:
    """Ingestion-time exact dedup: drop any document whose normalized
    content fingerprint (``textops.doc_fingerprint``: md5 of the
    lowercased, whitespace-collapsed text) was already seen.

    With ``ts_col`` the duplicate state is BOUNDED:
    ``dropDuplicatesWithinWatermark`` keeps a fingerprint only until
    the watermark passes it, so state size tracks the dedup horizon
    (e.g. "suppress re-crawls within 24 h"), not corpus history — the
    only shape that survives an unbounded crawl stream. Without
    ``ts_col`` it falls back to exact-forever semantics
    (``dropDuplicates`` — state grows with distinct fingerprints;
    small/finite streams only).

    The state store keys on the 32-char fingerprint, not the document
    text, so per-key state is O(1) regardless of document size."""
    from datapact_spark.operators.textops import doc_fingerprint

    fp = doc_fingerprint(stream_df, text_col=text_col)
    if ts_col is not None:
        return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    return fp.dropDuplicates(["fingerprint"])


def _ck_tag(checkpoint_dir: str) -> str:
    """Stable 8-hex namespace for a stream's index increments, derived
    from its checkpoint dir — batch ids are only unique per checkpoint."""
    import hashlib

    return hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]


def streaming_near_dedup(
    stream_df: DataFrame,
    corpus: DataFrame,
    index_store,
    index_name: str,
    checkpoint_dir: str,
    accepted_sink: str,
    rejected_sink: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    admit_to_index: bool = True,
    trigger_available_now: bool = True,
):
    """Continuous-crawl NEAR-dup gate: every micro-batch is probed
    against the persisted MinHash band index
    (``ledger.MinHashIndexStore``); documents with no verified
    near-duplicate in the corpus are written to ``accepted_sink`` (and,
    with ``admit_to_index``, their band hashes are appended to the index
    so the NEXT batch sees them); matches go to ``rejected_sink`` with
    their best-matching corpus id and Jaccard.

    This composes ``streaming_exact_dedup`` (verbatim re-crawls, bounded
    state) with the batch ``probe_near_dups`` shape: the corpus never
    reshuffles — the micro-batch's band hashes broadcast against the
    index scan. Signature params come from the index meta (written at
    build time), so a probe can never silently disagree with the index.

    Exactly-once note: foreachBatch sinks are parquet APPENDS keyed by
    batch_id directories, so a replayed batch overwrites its own
    directory idempotently (the engine's ledger convention)."""
    import os

    from pyspark.sql import functions as F

    from datapact_spark.operators.dedup import (
        minhash_band_hashes,
        minhash_dedup,
        minhash_signatures,
        probe_near_dups,
    )

    meta = index_store.read_meta(index_name)
    if not meta:
        raise ValueError(
            f"minhash index {index_name!r} has no meta — build it with "
            "MinHashIndexStore.write(meta={num_hashes, bands, shingle_n, seed})"
        )
    num_hashes, bands = int(meta["num_hashes"]), int(meta["bands"])
    shingle_n, seed = int(meta["shingle_n"]), int(meta["seed"])

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # the verify corpus must include previously-ADMITTED stream
            # docs (their bands are in the index, but probe verification
            # joins corpus text — without this union a near-dup of an
            # admitted doc would band-collide, fail verification, and
            # slip through)
            verify_corpus = corpus.select(id_col, text_col)
            if _dir_has_parquet(spark, accepted_sink):
                verify_corpus = verify_corpus.unionByName(
                    spark.read.parquet(accepted_sink).select(id_col, text_col)
                )
            hits = probe_near_dups(
                batch_df, verify_corpus, index_store.read(index_name),
                id_col=id_col, text_col=text_col,
                num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
                seed=seed, threshold=threshold,
            # self-pair guard: on a checkpoint REPLAY of this batch its
            # own docs are already in the index (ingest=<batch_id> band
            # rows) and in accepted_sink — without the filter every
            # previously-admitted doc matches ITSELF at Jaccard 1.0 and
            # the replay would reject the whole batch, wiping its
            # accepted partition (the embedding gate is safe only
            # because brute_force_topk filters neighbor_id != query_id)
            ).where(F.col("new_id") != F.col("corpus_id"))
            best = (
                hits.groupBy("new_id")
                .agg(
                    F.max(F.struct(F.col("jaccard"), F.col("corpus_id"))).alias("m")
                )
                .select(
                    F.col("new_id").alias(id_col),
                    F.col("m.corpus_id").alias("matched_corpus_id"),
                    F.col("m.jaccard").alias("jaccard"),
                )
            ).persist()
            try:
                rejected = batch_df.join(F.broadcast(best), id_col)
                accepted = batch_df.join(F.broadcast(best), id_col, "left_anti")
                # intra-batch near-dups: both sides are novel vs the
                # corpus, so the probe admits both — run the batch-local
                # pair detector and greedily keep the min id of each pair
                intra = minhash_dedup(
                    accepted, id_col=id_col, text_col=text_col,
                    num_hashes=num_hashes, bands=bands,
                    shingle_n=shingle_n, seed=seed, threshold=threshold,
                ).select(F.col("id_b").alias(id_col)).dropDuplicates()
                accepted = accepted.join(F.broadcast(intra), id_col, "left_anti")
                accepted = accepted.persist()
                accepted.write.mode("overwrite").parquet(
                    os.path.join(accepted_sink, f"batch={batch_id}")
                )
                if rejected_sink is not None:
                    rejected.write.mode("overwrite").parquet(
                        os.path.join(rejected_sink, f"batch={batch_id}")
                    )
                if admit_to_index:
                    sigs = minhash_signatures(
                        accepted, id_col, text_col, num_hashes, shingle_n, seed
                    )
                    # ingest_key = <checkpoint-digest>_<batch id>: a
                    # checkpoint REPLAY of this batch overwrites its own
                    # increment (idempotent), while a RESTART with a
                    # fresh checkpoint dir — whose batch ids begin at 0
                    # again — gets its own namespace instead of silently
                    # clobbering a prior run's admitted band rows
                    index_store.append(
                        index_name,
                        minhash_band_hashes(sigs, bands, num_hashes // bands),
                        ingest_key=f"{_ck_tag(checkpoint_dir)}_{batch_id}",
                    )
                accepted.unpersist()
            finally:
                best.unpersist()
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(stream_df, process_batch, checkpoint_dir, trigger_available_now)


def streaming_embedding_dedup(
    stream_df: DataFrame,
    corpus: DataFrame,
    checkpoint_dir: str,
    accepted_sink: str,
    rejected_sink: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    trigger_available_now: bool = True,
):
    """Embedding-space twin of ``streaming_near_dedup``: every
    micro-batch of incoming vectors (a crawl increment's embeddings) is
    checked for cosine near-duplicates against the corpus — plus every
    PREVIOUSLY-ACCEPTED vector, read back from the accepted sink, so an
    admitted vector immediately blocks its own near-dups. Batches are
    small relative to the corpus, so the batch side BROADCASTS into one
    GEMM-shaped pass over the corpus (``brute_force_topk``'s plan: the
    corpus never shuffles); swap in ``similarity.ivf_probe_topk`` +
    ``IvfIndexStore`` when a trained index exists and the corpus scan
    itself is the bottleneck.

    Intra-batch near-dups (both novel vs the corpus) are resolved by a
    batch-local self-check keeping the min id — same greedy contract as
    the MinHash gate. Sinks are parquet per batch-id directory, so a
    replayed batch overwrites itself idempotently.

    Accepted-set bookkeeping (r7): the previously-accepted vectors ride
    an in-memory ACCUMULATOR seeded from the sink once per stream
    (re)start and extended with each batch's accepted slice — the
    original shape re-read the ENTIRE accepted sink from parquet every
    micro-batch, an O(total accepted) listing+scan per batch that grows
    without bound over a long ingest. Lineage is truncated with a
    ``localCheckpoint`` every ``_ACC_COMPACT_EVERY`` batches (an
    iterative-union plan otherwise grows per batch), which also
    releases the per-batch persisted slices. A replayed batch's own
    vectors may appear in the seeded accumulator; that is safe here
    because ``brute_force_topk`` filters ``neighbor_id != query_id``.
    The GEMM itself still scans corpus+accepted per batch — when that
    scan is the bottleneck, swap in the IVF probe as documented above.
    """
    import os

    from pyspark.sql import functions as F

    from datapact_spark.operators.similarity import brute_force_topk

    _ACC_COMPACT_EVERY = 20
    state: dict = {"acc": None, "batches": 0, "seeded": False}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            if not state["seeded"]:
                state["seeded"] = True
                if _dir_has_parquet(spark, accepted_sink):
                    state["acc"] = (
                        spark.read.parquet(accepted_sink)
                        .select(id_col, vec_col)
                        .localCheckpoint(eager=True)
                    )
            ref = corpus.select(id_col, vec_col)
            if state["acc"] is not None:
                ref = ref.unionByName(state["acc"])
            hits = brute_force_topk(
                ref, batch_df, k=1, id_col=id_col, vec_col=vec_col
            ).where(F.col("cosine_sim") >= threshold)
            best = hits.select(
                F.col("query_id").alias(id_col),
                F.col("neighbor_id").alias("matched_corpus_id"),
                F.col("cosine_sim"),
            ).persist()
            try:
                rejected = batch_df.join(F.broadcast(best), id_col)
                accepted = batch_df.join(F.broadcast(best), id_col, "left_anti")
                # intra-batch: self top-k over the accepted slice; a
                # vector is dropped iff ANY lower-id neighbor sits over
                # the threshold in its top-16 (k=1 would miss cluster
                # members whose single nearest neighbor is a higher id)
                intra = (
                    brute_force_topk(
                        accepted, accepted, k=16, id_col=id_col, vec_col=vec_col
                    )
                    .where(
                        (F.col("cosine_sim") >= threshold)
                        & (F.col("query_id") > F.col("neighbor_id"))
                    )
                    .select(F.col("query_id").alias(id_col))
                    .dropDuplicates()
                )
                accepted = accepted.join(
                    F.broadcast(intra), id_col, "left_anti"
                ).persist()
                accepted.write.mode("overwrite").parquet(
                    os.path.join(accepted_sink, f"batch={batch_id}")
                )
                if rejected_sink is not None:
                    rejected.write.mode("overwrite").parquet(
                        os.path.join(rejected_sink, f"batch={batch_id}")
                    )
                # fold this batch's accepted slice into the accumulator.
                # The slice is localCheckpoint'ed FIRST: its lineage
                # contains ref = corpus ∪ acc_{b-1}, so an un-truncated
                # union would nest the whole accumulator plan inside
                # each new slice — exponential plan growth (OOMs inside
                # ~10 batches); a checkpointed slice is a plain
                # LogicalRDD and the union chain grows linearly instead.
                sl = accepted.select(id_col, vec_col).localCheckpoint(
                    eager=True
                )
                state["acc"] = (
                    sl if state["acc"] is None
                    else state["acc"].unionByName(sl)
                )
                state["batches"] += 1
                if state["batches"] % _ACC_COMPACT_EVERY == 0:
                    # periodic compaction keeps the union chain short
                    state["acc"] = state["acc"].localCheckpoint(eager=True)
                accepted.unpersist()
            finally:
                best.unpersist()
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(stream_df, process_batch, checkpoint_dir, trigger_available_now)


def stateful_sessionize(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    gap-based sessionization over an event stream.

    Per user, consecutive events within ``gap_minutes`` belong to one
    session. A session row (user, start, end, n_events) is emitted only
    once the WATERMARK passes its close horizon (session_end + gap) —
    until then the session stays in state as a candidate interval, so a
    late in-watermark straggler can still extend it, bridge two
    candidates into one, or open an earlier session of its own. This is
    exactly the batch semantics: the emitted session set equals what
    the batch operator computes over all in-watermark events, with no
    fragmented duplicates (the old one-tuple-state variant emitted
    reconstructed earlier sessions immediately and could not reopen
    them).

    State is the per-user list of candidate intervals, stored as three
    parallel arrays (starts, lasts, ns); it is bounded by the number of
    still-open gap-separated sessions inside one watermark delay — in
    practice a handful. Keys are hash-partitioned by the streaming
    engine and each micro-batch processes whole Arrow batches per key.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def _fn(key, pdf_iter, state: GroupState):
        (user,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        items: list[tuple[int, int, int]] = []
        if state.exists:
            starts, lasts, ns = state.get
            items.extend(zip(starts, lasts, ns))
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                # pandas datetime64 → integer microseconds
                items.extend(
                    (int(v) // 1000, int(v) // 1000, 1)
                    for v in pdf[ts_col].astype("int64").tolist()
                )
        # Interval merge: each event is a [t, t, 1] interval; each state
        # entry is a gap-valid [start, last, n] interval. Sorting by
        # start and merging consecutive intervals within the gap handles
        # every cross-micro-batch arrival order: a late event before a
        # stored start lowers it, one between two candidates bridges
        # them (their counts add), one older than every start - gap
        # opens its own earlier candidate.
        items.sort()
        merged: list[tuple[int, int, int]] = []
        for s2, l2, n2 in items:
            if merged and s2 - merged[-1][1] <= gap_us:
                cs, cl, cn = merged[-1]
                merged[-1] = (cs, max(cl, l2), cn + n2)
            else:
                merged.append((s2, l2, n2))
        # emit only the intervals the watermark has sealed: a future
        # event has ts >= watermark, and extending [s, l] needs
        # ts <= l + gap, so l + gap < watermark ⇒ untouchable forever
        closed = [iv for iv in merged if iv[1] + gap_us < wm_us]
        kept = [iv for iv in merged if iv[1] + gap_us >= wm_us]
        if kept:
            state.update((
                [s for s, _, _ in kept],
                [last for _, last, _ in kept],
                [n for _, _, n in kept],
            ))
            # wake when the earliest candidate's close horizon is
            # sealed (timeout timestamps must exceed the watermark)
            horizon_ms = min(last for _, last, _ in kept) // 1000 + (
                gap_minutes * 60 * 1000
            )
            state.setTimeoutTimestamp(max(horizon_ms, wm_ms + 1))
        elif state.exists:
            state.remove()
        out = pd.DataFrame(
            [(user, a, b, c) for a, b, c in closed],
            columns=["user_id", "start_us", "last_us", "n_events"],
        )
        out["session_start"] = pd.to_datetime(out["start_us"], unit="us")
        out["session_end"] = pd.to_datetime(out["last_us"], unit="us")
        yield out[["user_id", "session_start", "session_end", "n_events"]]

    return (
        stream_df.select(F.col(user_col).alias("user_id"), F.col(ts_col).alias(ts_col))
        .withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_profile(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    null_columns: list[str] | None = None,
    agg_columns: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window single-pass profile.

    Output per window: row count, per-column null counts, per-column
    sum/min/max — the streaming analogue of operators/profile.py. Late
    rows inside the watermark update their window; beyond it they are
    dropped (documented contract).
    """
    exprs = [F.count(F.lit(1)).alias("row_count")]
    for c in null_columns or []:
        exprs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        )
    for c in agg_columns or []:
        exprs.append(F.sum(c).alias(f"sum_{c}"))
        exprs.append(F.min(c).alias(f"min_{c}"))
        exprs.append(F.max(c).alias(f"max_{c}"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("window"))
        .agg(*exprs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[c for c in ["row_count"]],
            *[F.col(f"nulls_{c}") for c in (null_columns or [])],
            *[x for c in (agg_columns or []) for x in (
                F.col(f"sum_{c}"), F.col(f"min_{c}"), F.col(f"max_{c}"))],
        )
    )


# ---------------------------------------------------------------------------
# continuous drift monitoring with mergeable sketches
# ---------------------------------------------------------------------------


def _drift_monitor(
    spark: SparkSession,
    stream_df: DataFrame,
    baselines,
    task_key: str,
    bl_column: str,
    checkpoint_dir: str,
    verdicts_path: str,
    *,
    bootstrap: Callable[[DataFrame], DataFrame],
    score: Callable[[list[Row], StructType, DataFrame], tuple[float, float, object]],
    fold: Callable[[object], DataFrame],
    second: str,
    metric: str,
    threshold: float,
    update_baseline: bool,
    trigger_available_now: bool,
    on_batch: Callable[[int, float, bool], None] | None,
):
    """The one ``foreachBatch`` loop of the drift monitors. A sketch
    family supplies three steps:

    * ``bootstrap(batch_df)`` — the first baseline (no rows when the
      batch's column is entirely NULL: nothing to compare against yet);
    * ``score(base, schema, batch_df)`` → ``(psi, <second>, summary)``
      — the batch scored against the stored baseline, and what ``fold``
      needs of the batch;
    * ``fold(summary)`` — the baseline with the batch folded in.

    ``base`` holds the stored baseline's rows (of ``schema``), read and
    collected once per batch: the families work on the driver rows, and
    only a family that needs a frame of them builds one.

    Per non-empty micro-batch the loop scores the batch (the first
    batch with mass bootstraps and passes vacuously), folds it into the
    baseline stamped with ``last_batch_id`` (when ``update_baseline``),
    then writes one verdict row ``(batch_id, n_rows, psi, <second>,
    passed, replayed)`` to ``verdicts_path`` (parquet partitioned by
    batch_id, so the write is idempotent per batch).

    Replay semantics: a reprocessed batch id <= ``last_batch_id`` is
    already IN the baseline, so it is never folded again, and if its
    verdict partition exists the original verdict stands (re-scoring
    would self-compare and report artificially low drift). In the
    narrow crash window where the fold committed but the verdict write
    didn't, the replay's verdict row is written with ``replayed =
    true`` so readers know it was measured against a baseline that
    already contains the batch's own data."""

    def _store(summary: DataFrame, batch_id: int) -> None:
        baselines.write(
            task_key, bl_column, summary.withColumn("last_batch_id", F.lit(batch_id))
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        n_rows = batch_df.count()
        if n_rows == 0:
            return
        replayed = False
        if baselines.exists(task_key, bl_column):
            # one read per batch: the stored summary is small (<= top_k
            # + 1 categories, ~delta/2 + 2 centroids), so collect it and
            # hand score and fold a local frame of those rows
            stored = baselines.read(task_key, bl_column)
            rows = stored.collect()
            last_seen = max((r["last_batch_id"] for r in rows), default=-1)
            if batch_id <= last_seen:
                if _partition_has_parquet(spark, verdicts_path, batch_id):
                    return
                replayed = True
            schema = StructType([f for f in stored.schema if f.name != "last_batch_id"])
            base = [Row(**{n: r[n] for n in schema.names}) for r in rows]
            psi, other, summary = score(base, schema, batch_df)
            passed = (psi if metric == "psi" else other) <= threshold
            if update_baseline and batch_id > last_seen:
                _store(fold(summary), batch_id)
        else:
            psi, other, passed = 0.0, 0.0, True
            boot = bootstrap(batch_df)
            # collected once: a baseline without rows (an all-NULL first
            # batch) stores nothing, and the write does not recompute it
            boot_rows = boot.collect()
            if boot_rows:
                _store(spark.createDataFrame(boot_rows, boot.schema), batch_id)
        verdict = spark.createDataFrame(
            [(batch_id, n_rows, psi, other, bool(passed), replayed)],
            f"batch_id long, n_rows long, psi double, {second} double,"
            " passed boolean, replayed boolean",
        )
        (
            verdict.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(verdicts_path)
        )
        if on_batch is not None:
            on_batch(batch_id, psi if metric == "psi" else other, bool(passed))

    return _start_foreach_batch(stream_df, _process, checkpoint_dir, trigger_available_now)


def drift_monitor_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    column: str,
    baselines,
    task_key: str,
    checkpoint_dir: str,
    verdicts_path: str,
    *,
    delta: float = 200.0,
    bins: int = 10,
    metric: str = "psi",
    threshold: float = 0.2,
    update_baseline: bool = True,
    trigger_available_now: bool = True,
    on_batch: Callable[[int, float, bool], None] | None = None,
):
    """Continuous distribution-drift monitor (north-star: mergeable
    sketches vs baseline snapshots, streaming edition).

    Per micro-batch (``_drift_monitor`` drives the batches):

    1. build the batch's t-digest (``tdigest_sketch`` — partial/merge
       plan, only centroid rows leave the executors),
    2. compare it against the stored baseline digest with PSI/KS on the
       baseline's equal-mass bins (``tdigest_drift``; a batch whose
       column is entirely NULL is zero mass — maximal drift, FAIL),
    3. append one idempotent verdict row ``(batch_id, n_rows, psi, ks,
       passed, replayed)`` to ``verdicts_path``,
    4. optionally FOLD the batch's digest into the baseline
       (``merge_tdigests``) so the baseline is a running sketch of
       everything seen; ``last_batch_id`` keeps the fold replay-safe.

    The first batch with mass bootstraps the baseline (vacuous pass),
    exactly like the batch engine's snapshot lifecycle.  Returns the
    StreamingQuery.

    The running-baseline fold needs a MERGEABLE stored sketch; histograms
    would merge too, but the digest adapts its support as the stream
    drifts — the right default here.
    """
    from datapact_spark.operators.quantiles import (
        merge_tdigests,
        tdigest_drift,
        tdigest_sketch,
    )

    def sketch(batch_df: DataFrame) -> DataFrame:
        # microbatches are small; skip the salted sub-merge level
        return tdigest_sketch(batch_df, column, delta, merge_salt_buckets=1)

    def score(base: list[Row], schema: StructType, batch_df: DataFrame):
        base_df = spark.createDataFrame(base, schema)
        now = sketch(batch_df)
        m = tdigest_drift(base_df, now, bins=bins).collect()[0]
        return float(m["psi"] or 0.0), float(m["ks"] or 0.0), (base_df, now)

    return _drift_monitor(
        spark, stream_df, baselines, task_key, f"{column}__stream",
        checkpoint_dir, verdicts_path,
        bootstrap=sketch,
        score=score,
        fold=lambda summary: merge_tdigests(*summary, delta),
        second="ks", metric=metric, threshold=threshold,
        update_baseline=update_baseline,
        trigger_available_now=trigger_available_now, on_batch=on_batch,
    )


def categorical_drift_monitor_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    column: str,
    baselines,
    task_key: str,
    checkpoint_dir: str,
    verdicts_path: str,
    *,
    top_k: int = 20,
    metric: str = "tv",
    threshold: float = 0.1,
    update_baseline: bool = True,
    trigger_available_now: bool = True,
    on_batch: Callable[[int, float, bool], None] | None = None,
):
    """Continuous CATEGORICAL drift monitor — the frequency sibling of
    ``drift_monitor_stream``. Category counts are trivially mergeable
    (they add), so the running baseline is exact forever.

    Per micro-batch: fold the batch onto the stored frame (the FIRST
    batch's top-``top_k`` categories + ``__OTHER__`` — novel later
    categories pool into __OTHER__, the standard fixed-frame monitoring
    contract), score psi / total-variation against the running
    baseline, append one idempotent verdict row ``(batch_id, n_rows,
    psi, tv, passed, replayed)``, then add the batch's counts into the
    baseline. Replay semantics are the numeric monitor's (one loop,
    ``_drift_monitor``)."""
    from datapact_spark.operators.drift import (
        OTHER_CATEGORY,
        categorical_snapshot,
        category_counts,
    )
    from datapact_spark.operators.drift import _EPS  # noqa: PLC2701

    def score(base: list[Row], schema: StructType, batch_df: DataFrame):
        # tiny frames (<= top_k + 1 rows) — plain python, deterministic
        # category-ordered folds, same arithmetic as the batch path
        import math

        base_counts = {r["category"]: r["cnt"] for r in base}
        frame = [c for c in base_counts if c != OTHER_CATEGORY]
        cats = spark.createDataFrame([(c,) for c in frame], "category string")
        now = {
            r["category"]: r["cnt"]
            for r in category_counts(batch_df, column, cats).collect()
        }
        p_tot = sum(base_counts.values()) or 1
        q_tot = sum(now.values()) or 1
        psi = tv = 0.0
        for c in sorted(set(base_counts) | set(now)):
            p = base_counts.get(c, 0) / float(p_tot)
            q = now.get(c, 0) / float(q_tot)
            psi += (p + _EPS - (q + _EPS)) * math.log((p + _EPS) / (q + _EPS))
            tv += abs(p - q)
        # the batch summary carries the base counts, so fold needs no
        # second pass over the base
        return psi, tv * 0.5, (base_counts, now)

    def fold(summary: tuple[dict, dict]) -> DataFrame:
        base_counts, now = summary
        merged = dict(base_counts)
        for c, n in now.items():
            merged[c] = merged.get(c, 0) + n
        return spark.createDataFrame(list(merged.items()), "category string, cnt long")

    return _drift_monitor(
        spark, stream_df, baselines, task_key, f"{column}__cat_stream",
        checkpoint_dir, verdicts_path,
        bootstrap=lambda batch_df: categorical_snapshot(batch_df, column, top_k),
        score=score,
        fold=fold,
        second="tv", metric=metric, threshold=threshold,
        update_baseline=update_baseline,
        trigger_available_now=trigger_available_now, on_batch=on_batch,
    )


def windowed_drift_profile(
    stream_df: DataFrame,
    ts_col: str,
    column: str,
    snapshot: DataFrame,
    bins: int,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming side of per-window drift: bin each event on the STORED
    baseline histogram's grid (its __lo/__hi — a static 1-row relation
    broadcast into the stream) and count per (event-time window, bin).

    This is a plain watermarked streaming aggregation — late events
    inside the watermark fold into the right window.  Write the result
    to a sink and score it with ``windowed_drift_scores``; binning on
    the baseline grid is what makes the per-window histograms directly
    comparable to the baseline sketch."""
    bounds = snapshot.select("__lo", "__hi").limit(1)
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .select(F.col(ts_col).alias("__ts"), F.col(column).cast("double").alias("__v"))
        .where(F.col("__v").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "__ts",
            F.coalesce(
                F.least(
                    F.greatest(
                        F.floor((F.col("__v") - F.col("__lo")) / F.nullif(width, F.lit(0.0))),
                        F.lit(0),
                    ),
                    F.lit(bins - 1),
                ).cast("int"),
                F.lit(0),
            ).alias("bin"),
        )
        .groupBy(F.window(F.col("__ts"), window_duration).alias("window"), F.col("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "bin",
            "cnt",
        )
    )


def windowed_drift_scores(
    windowed_hist: DataFrame, snapshot: DataFrame, bins: int
) -> DataFrame:
    """(window_start, window_end, psi, ks) — drift of each window's
    histogram against the baseline sketch, via the exact same
    ``psi_ks_from_counts`` tail as every batch drift family.
    Runs as a batch query over the streaming sink (each window's bin
    set is completed there once its watermark passes)."""
    from datapact_spark.operators.drift import psi_ks_from_counts

    group_cols = ["window_start", "window_end"]
    windows = windowed_hist.select(*group_cols).distinct()
    base = snapshot.select("bin", F.col("cnt").alias("p_cnt"))
    merged = (
        windows.crossJoin(F.broadcast(base))
        .join(
            windowed_hist.select(*group_cols, "bin", F.col("cnt").alias("q_cnt")),
            on=[*group_cols, "bin"],
            how="full_outer",
        )
        .select(
            *group_cols,
            "bin",
            F.coalesce(F.col("p_cnt"), F.lit(0)).alias("p_cnt"),
            F.coalesce(F.col("q_cnt"), F.lit(0)).alias("q_cnt"),
        )
    )
    return psi_ks_from_counts(merged, group_cols).select(*group_cols, "psi", "ks")
