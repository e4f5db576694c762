"""Distribution-drift checks: PSI / KS / TV vs another dataset or a
stored baseline snapshot.

North-star requirement (BASELINE.json): drift detection via mergeable
sketches compared against baseline snapshots with PSI/KS thresholds.

One builder per sketch family, and this module is the only place that
dispatches on the family (``drift_metrics``, ``baseline_snapshot``):

* **histogram** — both sides binned on one fixed grid cut from the
  baseline's min/max; counts per (group, bin).
* **categorical** — counts per (group, category) on the baseline's
  top-k categories plus ``__OTHER__``.
* **tdigest** — the quantile sketch (operators/quantiles.py): masses
  per (group, bin) on the baseline's equal-mass bins.

Every family reduces to per-(group, bin) counts and shares one tail
(``drift_terms`` + ``psi_ks_from_counts``): per-bin PSI terms and
running CDFs, with PSI folded in bin order so the sum is the same IEEE
op sequence on every engine. All shuffles are on the group key.

Task level is the same builder over no group keys: a mergeable summary
over no keys is the global summary, and the 1-row bounds grid, the
categorical frame and the baseline digest are broadcast instead of
joined. Snapshot mode is the same builder fed a stored
``baseline_snapshot`` in place of the source side.

PSI = Σ (p−q)·ln(p/q) with ε-smoothing for empty bins;
KS  = max |CDF_p − CDF_q|;  TV = ½ Σ |p − q|.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapact_spark.config import DriftCheck

_EPS = 1e-6

OTHER_CATEGORY = "__OTHER__"

_SKETCH_SNAPSHOT_COLS = {
    # marker columns unique to each sketch family's stored snapshot
    "histogram": {"bin", "cnt"},
    "tdigest": {"means", "weights", "total"},
    "categorical": {"category", "cnt"},
}


def _family(check: DriftCheck) -> str:
    return "categorical" if check.kind == "categorical" else check.sketch


def _check_snapshot_family(snap: DataFrame, check: DriftCheck) -> None:
    """Fail fast with a clear message when a stored drift baseline was
    written by a different sketch family than the check now configures
    (e.g. a DriftCheck flipped between sketch='histogram' and 'tdigest'
    across runs). Without this, the mismatched columns surface as an
    opaque missing-column AnalysisException deep inside the drift plan."""
    cols = set(snap.columns)
    family = _family(check)
    if _SKETCH_SNAPSHOT_COLS[family] <= cols:
        return
    stored = next(
        (fam for fam, mk in _SKETCH_SNAPSHOT_COLS.items() if mk <= cols), "unknown"
    )
    raise ValueError(
        f"drift baseline snapshot for column '{check.column}' was written by "
        f"sketch family '{stored}' (columns {sorted(cols)}) but the check is "
        f"configured with sketch family '{family}'. Delete the stored "
        f"baseline to re-bootstrap, or restore the original sketch setting."
    )


def drift_metrics(
    source: DataFrame | None,
    target: DataFrame,
    check: DriftCheck,
    group_cols: Sequence[str] = (),
    snapshot: DataFrame | None = None,
) -> DataFrame:
    """(group..., drift_<metric>_<column>): drift of ``target`` against
    the baseline, one row per group of ``group_cols`` — one row in all
    at task level (no keys).

    The baseline is ``source`` (two-sample), or the stored
    ``baseline_snapshot`` when ``snapshot`` is given (``source`` is then
    unused). Stored baselines carry no group key, so snapshot compares
    are task-level. A side with no rows (empty, or all NULL) — the
    baseline as well as the target, in every mode — is zero mass, so it
    reads as maximal drift against a non-empty other side, never as no
    comparison."""
    g = list(group_cols)
    family = _family(check)
    if snapshot is not None:
        _check_snapshot_family(snapshot, check)
    if family == "histogram":
        scores = psi_ks_from_counts(
            _histogram_counts(source, target, check.column, check.bins, g, snapshot), g
        )
    elif family == "categorical":
        scores = psi_ks_from_counts(
            _categorical_counts(source, target, check.column, check.bins, g, snapshot),
            g,
            "category",
        )
    else:
        from datapact_spark.operators.quantiles import tdigest_drift, tdigest_sketch

        base = snapshot if snapshot is not None else tdigest_sketch(
            source, check.column, check.delta, g
        )
        now = tdigest_sketch(target, check.column, check.delta, g)
        scores = tdigest_drift(base, now, check.bins, g)
    return scores.select(
        *g, F.col(check.metric).alias(f"drift_{check.metric}_{check.column}")
    )


def baseline_snapshot(df: DataFrame, check: DriftCheck) -> DataFrame:
    """The stored baseline of ``check``'s sketch family over ``df``:
    what a later snapshot-mode ``drift_metrics`` reads as its baseline
    side. Persist with ``.write.parquet(path)``."""
    family = _family(check)
    if family == "histogram":
        return histogram_snapshot(df, check.column, check.bins)
    if family == "categorical":
        return categorical_snapshot(df, check.column, check.bins)
    from datapact_spark.operators.quantiles import tdigest_sketch

    return tdigest_sketch(df, check.column, check.delta)


# ---------------------------------------------------------------------------
# the shared tail: per-(group, bin) counts -> terms -> PSI / KS / TV
# ---------------------------------------------------------------------------


def merge_counts(base: DataFrame, now: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., p_cnt, q_cnt) from two (keys..., cnt) frames: a key
    missing from one side is zero mass on that side."""
    return (
        base.select(*keys, F.col("cnt").alias("p_cnt"))
        .join(now.select(*keys, F.col("cnt").alias("q_cnt")), on=keys, how="full_outer")
        .select(
            *keys,
            F.coalesce(F.col("p_cnt"), F.lit(0)).alias("p_cnt"),
            F.coalesce(F.col("q_cnt"), F.lit(0)).alias("q_cnt"),
        )
    )


def drift_terms(
    merged: DataFrame, group_cols: Sequence[str] = (), key: str = "bin"
) -> DataFrame:
    """Per-(group, key) drift terms from counts ``(group..., key,
    p_cnt, q_cnt)``: masses ``p``/``q``, ``psi_term``, running CDFs
    ``p_cdf``/``q_cdf``, ``tv_term = |p − q|``, and the key-ordered
    running folds ``psi_run``/``tv_run``. Every value is a fixed
    sequence of IEEE ops from exact counts (one division, +ε, ln, −, ×
    and ordered running sums), so the rows are bitwise engine-portable.
    Per-group totals ride an unbounded window over the (≤ bins rows per
    group) frame: a separate .agg() would recompute the upstream scans,
    since Catalyst shares no non-exchange subplans."""
    g = list(group_cols)
    wt = Window.partitionBy(*g).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = Window.partitionBy(*g).orderBy(key).rowsBetween(Window.unboundedPreceding, 0)

    def mass(cnt: str) -> F.Column:
        total = F.nullif(F.sum(cnt).over(wt).cast("double"), F.lit(0.0))
        return F.coalesce(F.col(cnt) / total, F.lit(0.0))

    ratios = merged.select(
        *g, key, "p_cnt", "q_cnt", mass("p_cnt").alias("p"), mass("q_cnt").alias("q")
    )
    ps, qs = F.col("p") + F.lit(_EPS), F.col("q") + F.lit(_EPS)
    psi_term = (ps - qs) * F.log(ps / qs)
    tv_term = F.abs(F.col("p") - F.col("q"))
    return ratios.select(
        *g, key, "p_cnt", "q_cnt", "p", "q",
        psi_term.alias("psi_term"),
        F.sum("p").over(w).alias("p_cdf"),
        F.sum("q").over(w).alias("q_cdf"),
        # the ordered fold, not an unordered SUM: the same IEEE op
        # sequence every engine's ordered fold executes
        F.sum(psi_term).over(w).alias("psi_run"),
        tv_term.alias("tv_term"),
        F.sum(tv_term).over(w).alias("tv_run"),
    )


def psi_ks_from_counts(
    merged: DataFrame, group_cols: Sequence[str] = (), key: str = "bin"
) -> DataFrame:
    """(group..., psi, ks, tv) from per-(group, key) counts — the one
    tail of every sketch family and of windowed drift. PSI and TV are
    the last values of their key-ordered running folds (the terms are
    non-negative, so last == max). Over no keys an empty input still
    yields one row, of NULLs."""
    g = list(group_cols)
    return drift_terms(merged, g, key).groupBy(*g).agg(
        F.max("psi_run").alias("psi"),
        F.max(F.abs(F.col("p_cdf") - F.col("q_cdf"))).alias("ks"),
        (F.max("tv_run") * 0.5).alias("tv"),
    )


def psi_ks_terms(hist_p: DataFrame, hist_q: DataFrame) -> DataFrame:
    """(bin, psi_term, p_cdf, q_cdf) from two (bin, cnt) histograms on
    one grid — the task-level rows of ``drift_terms``."""
    return drift_terms(merge_counts(hist_p, hist_q, ["bin"])).select(
        "bin", "psi_term", "p_cdf", "q_cdf"
    )


# ---------------------------------------------------------------------------
# histogram family
# ---------------------------------------------------------------------------


def _bounds(df: DataFrame, column: str, group_cols: Sequence[str] = ()) -> DataFrame:
    return df.groupBy(*group_cols).agg(
        F.min(F.col(column).cast("double")).alias("__lo"),
        F.max(F.col(column).cast("double")).alias("__hi"),
    )


def _binned(
    df: DataFrame,
    column: str,
    bins: int,
    bounds: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., bin, cnt) histogram of ``column`` over the bounds
    grid. Over no keys the 1-row ``bounds`` relation is broadcast, so
    the whole computation stays lazy and distributed; per group it
    joins on the group key. A group without bounds (its baseline had
    no value) bins everything into bin 0."""
    g = list(group_cols)
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    return (
        df.select(*g, F.col(column).cast("double").alias("__v"))
        .where(F.col("__v").isNotNull())
        .join(bounds if g else F.broadcast(bounds), on=g or None, how="left")
        .select(
            *g,
            F.coalesce(
                F.least(
                    F.greatest(
                        F.floor((F.col("__v") - F.col("__lo")) / F.nullif(width, F.lit(0.0))),
                        F.lit(0),
                    ),
                    F.lit(bins - 1),
                ).cast("int"),
                F.lit(0),  # degenerate grid (lo == hi) → single bin
            ).alias("bin"),
        )
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_snapshot(df: DataFrame, column: str, bins: int = 64) -> DataFrame:
    """Mergeable histogram sketch of one column: (bin, cnt, __lo, __hi)
    — histograms over the same grid merge by addition."""
    bounds = _bounds(df, column)
    return _binned(df, column, bins, bounds).crossJoin(F.broadcast(bounds))


def _histogram_counts(
    source: DataFrame | None,
    target: DataFrame,
    column: str,
    bins: int,
    g: list[str],
    snapshot: DataFrame | None,
) -> DataFrame:
    if snapshot is None:
        bounds = _bounds(source, column, g)
        base = _binned(source, column, bins, bounds, g)
    else:
        # the stored grid rides every snapshot row, so bins align (an
        # empty snapshot has no grid: the target lands in bin 0)
        bounds = snapshot.select("__lo", "__hi").limit(1)
        base = snapshot
    return merge_counts(base, _binned(target, column, bins, bounds, g), [*g, "bin"])


# ---------------------------------------------------------------------------
# categorical family — frequency-based PSI / total variation over a
# string (or any discrete) column: the other half of real-world drift
# monitoring (event types, languages, domains, labels)
# ---------------------------------------------------------------------------


def top_categories(
    df: DataFrame, column: str, top_k: int, group_cols: Sequence[str] = ()
) -> DataFrame:
    """The ``top_k`` most frequent SOURCE categories per group (count
    DESC, value ASC ties — deterministic), excluding NULL: the
    comparison frame every side is folded onto. At unbounded
    cardinality swap the exact groupBy for ``frequency.heavy_hitters``
    — the frame only needs the dominant categories, the tail is
    __OTHER__ by design."""
    g = list(group_cols)
    counted = (
        df.select(*g, F.col(column).cast("string").alias("category"))
        .where(F.col("category").isNotNull())
        .groupBy(*g, "category")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    order = [F.col("__c").desc(), F.col("category").asc()]
    if not g:
        return counted.orderBy(*order).limit(top_k).select("category")
    rank = F.row_number().over(Window.partitionBy(*g).orderBy(*order))
    return (
        counted.withColumn("__r", rank)
        .where(F.col("__r") <= top_k)
        .select(*g, "category")
    )


def category_counts(
    df: DataFrame,
    column: str,
    categories: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., category, cnt) with every value outside the
    ``categories`` relation folded into ``__OTHER__`` — the
    bounded-cardinality frame that makes categorical drift scale to
    unbounded key domains. NULLs count into __OTHER__ as well. Over no
    keys the frame is broadcast."""
    g = list(group_cols)
    frame = categories.select(*g, F.col("category").alias("__v"), F.lit(1).alias("__in"))
    return (
        df.select(*g, F.col(column).cast("string").alias("__v"))
        .join(frame if g else F.broadcast(frame), on=[*g, "__v"], how="left")
        .select(
            *g,
            F.when(F.col("__in") == 1, F.col("__v"))
            .otherwise(F.lit(OTHER_CATEGORY))
            .alias("category"),
        )
        .groupBy(*g, "category")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def categorical_snapshot(df: DataFrame, column: str, top_k: int = 20) -> DataFrame:
    """Stored categorical baseline: (category, cnt) over the top-k +
    __OTHER__ frame — trivially mergeable (counts add) and the frame
    travels with the snapshot."""
    return category_counts(df, column, top_categories(df, column, top_k))


def _categorical_counts(
    source: DataFrame | None,
    target: DataFrame,
    column: str,
    top_k: int,
    g: list[str],
    snapshot: DataFrame | None,
) -> DataFrame:
    if snapshot is None:
        cats = top_categories(source, column, top_k, g)
        base = category_counts(source, column, cats, g)
    else:
        # the snapshot's categories are the frame; its __OTHER__ row is
        # baseline tail mass
        cats = snapshot.select("category").where(F.col("category") != OTHER_CATEGORY)
        base = snapshot
    # a baseline (group) with no non-NULL value has an empty frame: it
    # is zero mass, not an __OTHER__ row that matches any target
    framed = cats.select(*g).distinct() if g else cats.limit(1).select()
    base = base.join(framed, on=g or None, how="left_semi")
    return merge_counts(
        base, category_counts(target, column, cats, g), [*g, "category"]
    )


def categorical_drift_terms(
    source: DataFrame, target: DataFrame, column: str, top_k: int = 20
) -> DataFrame:
    """(category, p_cnt, q_cnt, p, q, tv_term, tv_running) — per-
    category drift terms on the source's top-k + __OTHER__ frame.
    ``tv_term = |p - q|``; the category-ordered running sum's last row
    × 0.5 is the total-variation distance — every value exact counts
    and single IEEE divisions/subtractions, hence strict-oracle
    portable (unlike PSI's ln)."""
    merged = _categorical_counts(source, target, column, top_k, [], None)
    return drift_terms(merged, (), "category").select(
        "category", "p_cnt", "q_cnt", "p", "q", "tv_term",
        F.col("tv_run").alias("tv_running"),
    )
