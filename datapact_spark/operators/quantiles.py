"""Quantile sketches for distribution drift: a mergeable t-digest plus
exact percentile helpers.

North-star requirement (BASELINE.json): distribution drift via
quantile sketches compared against baseline snapshots with PSI/KS
thresholds, with vectorized pandas/Arrow UDFs only for sketch merge and
sha256 hashing.  operators/drift.py holds the fixed-grid and
categorical families and is the one place that dispatches on the
sketch family; this module holds the one quantile-sketch family, whose
drift builder (``tdigest_drift``) serves task level (no group keys),
per-group verdicts and snapshot compares alike:

* **t-digest** (Dunning & Ertl's merging variant): centroids are formed
  by grouping sorted values on the scale function
  ``k(q) = delta/(2*pi) * asin(2q - 1)`` — more resolution at the tails,
  bounded size (~delta/2 + 2 centroids).  Everything is vectorized
  numpy inside Arrow-batched UDFs (the sanctioned use): ``mapInPandas``
  builds per-batch partial digests, ``applyInPandas`` merges them — the
  same two-level map-side-partial / reduce shape as a Spark aggregate,
  so 10^12 rows stream through without any per-row Python.
* **PSI / KS on equal-mass bins**: the baseline sketch's quantiles cut
  ``bins`` equal-mass bins; both sides' masses are evaluated on those
  edges per group, and the per-(group, bin) masses feed the one
  ``drift.psi_ks_from_counts`` tail every family shares.  (Equal-mass
  PSI is the standard production formulation — deciles of the
  baseline.)  A side with no sketch row is zero mass.
* **Snapshot lifecycle**: a digest is a 1-row DataFrame (or 1 row per
  group) of array columns; it round-trips through the BaselineStore
  parquet layout unchanged and merges with a later digest by
  re-running the centroid merge on the union of rows.

Why one quantile family, and why this one: BENCH.md, "Quantile drift
families" (PSI/KS against exact equal-mass binning, merge, bytes).

Reference parity: the reference has no sketch engine (drift is a
roadmap item in its README); this is a north-star addition.  The exact
``percentile``-based drift terms (``exact_quantile_drift_terms``) are
the oracle-checkable variant: one quantile per probability, identical
interpolation in Spark and DuckDB (quantile_cont).
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_DIGEST_FIELDS = [
    StructField("means", ArrayType(DoubleType()), False),
    StructField("weights", ArrayType(DoubleType()), False),
    StructField("total", DoubleType(), False),
    StructField("vmin", DoubleType(), False),
    StructField("vmax", DoubleType(), False),
]


def digest_schema(group_fields: Sequence[StructField] = ()) -> StructType:
    return StructType(list(group_fields) + _DIGEST_FIELDS)


# ---------------------------------------------------------------------------
# numpy core (pure functions — unit-testable without Spark)
# ---------------------------------------------------------------------------


def _merge_centroids(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """One merging pass: sort by mean, group on the t-digest scale
    function, emit (means, weights) of the merged centroids.

    Fully vectorized: the group id of each input centroid is
    ``floor(k(q_mid))`` where ``q_mid`` is its mid-point cumulative
    mass — the asin scale function shrinks groups toward q=0 and q=1,
    which is what gives t-digest its tail accuracy.
    """
    if means.size == 0:
        return means, weights
    # lexsort on (weight, mean): deterministic for any arrival
    # permutation of the centroid multiset (plain stable sort would
    # tie-break equal means by shuffle arrival order)
    order = np.lexsort((weights, means))
    m = means[order]
    w = weights[order]
    total = float(w.sum())
    cum = np.cumsum(w)
    q_mid = (cum - w / 2.0) / total
    # k in [-delta/4, delta/4]; offset so floor() yields stable group ids
    k = delta / (2.0 * math.pi) * np.arcsin(np.clip(2.0 * q_mid - 1.0, -1.0, 1.0))
    gid = np.floor(k + 0.5 * delta).astype(np.int64)
    # boundaries where gid changes
    starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    gw = np.add.reduceat(w, starts)
    gm = np.add.reduceat(m * w, starts) / gw
    return gm, gw


def _digest_quantile(
    probs: np.ndarray,
    means: np.ndarray,
    weights: np.ndarray,
    total: float,
    vmin: float,
    vmax: float,
) -> np.ndarray:
    """Quantile estimates by linear interpolation between centroid
    means at their half-weight cumulative positions, pinned to the
    exact min/max at the tails (the standard t-digest convention)."""
    cum = np.cumsum(weights)
    pos = (cum - weights / 2.0) / total
    xs = np.r_[0.0, pos, 1.0]
    ys = np.r_[vmin, means, vmax]
    return np.interp(probs, xs, ys)


def _digest_cdf(
    xs: np.ndarray,
    means: np.ndarray,
    weights: np.ndarray,
    total: float,
    vmin: float,
    vmax: float,
) -> np.ndarray:
    cum = np.cumsum(weights)
    pos = (cum - weights / 2.0) / total
    kx = np.r_[vmin, means, vmax]
    ky = np.r_[0.0, pos, 1.0]
    # np.interp requires increasing x; duplicate knots are fine
    return np.interp(xs, kx, ky, left=0.0, right=1.0)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def tdigest_sketch(
    df: DataFrame,
    column: str,
    delta: float = 200.0,
    group_cols: Sequence[str] | None = None,
    merge_salt_buckets: int | None = None,
) -> DataFrame:
    """Mergeable t-digest of ``column``: one row (or one per group) of
    (means, weights, total, vmin, vmax).

    Two-level plan, exactly the shape of a Spark partial aggregate:

    1. ``mapInPandas`` — each Arrow batch is sorted and compressed to
       <= delta/2 + 2 centroids (vectorized scale-function grouping);
       emits centroid rows tagged with the group key.
    2. ``applyInPandas`` per group (or a single synthetic group) — the
       union of partial centroids is re-merged into the final digest.

    At 10^12 rows the map stage emits ~delta/2 rows per (batch x
    group-in-batch); only those partials shuffle, never raw values.

    ``merge_salt_buckets`` bounds the FINAL merge group: a group
    holding 20% of a 10^12-row table sees ~10^6 map tasks, so its
    merge would otherwise receive ~10^6 partial rows × delta/2
    centroids through one pandas group.  Partials are salted by a
    content hash into ``merge_salt_buckets`` sub-merges first, so the
    final group reads <= merge_salt_buckets digest rows.  Digest
    merging is the documented mergeable-summary operation; in the
    exactness regime (delta/2 >= n, singleton centroids — the regime
    the strict oracle runs in) no compression ever fires, so the
    two-level result is byte-identical to the one-level merge.  Set
    <= 1 to disable (small batch inputs, e.g. streaming monitors,
    where one extra exchange isn't worth it).

    The DEFAULT (``None``) is ADAPTIVE: 32 sub-merge buckets when the
    input has more than 128 partitions, otherwise one-level — with few
    map tasks the final merge already reads at most that many partial
    rows per group, so the extra exchange + pandas stage is pure
    overhead (measured +67% on the sf0.1 bench when applied
    unconditionally, r6 pinned median vs r4). Pass an explicit int to
    pin the level count either way."""
    gcols = list(group_cols or [])
    src = df.select(
        *gcols, F.col(column).cast("double").alias("__v")
    ).where(F.col("__v").isNotNull())
    part_schema = digest_schema([src.schema[c] for c in gcols])

    def partials(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out: list[dict] = []
            groups = pdf.groupby(gcols, sort=False) if gcols else [((), pdf)]
            for key, g in groups:
                v = g["__v"].to_numpy(dtype=np.float64)
                m, w = _merge_centroids(v, np.ones_like(v), delta)
                row = dict(zip(gcols, key if isinstance(key, tuple) else (key,)))
                row.update(
                    means=m.tolist(),
                    weights=w.tolist(),
                    total=float(w.sum()),
                    vmin=float(v.min()),
                    vmax=float(v.max()),
                )
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in part_schema.fields])

    partial = src.mapInPandas(partials, schema=part_schema)
    if merge_salt_buckets is None:
        # adaptive: partial-row count per group is bounded by the
        # map-task count; below 4x the bucket count the one-level merge
        # already reads fewer rows than the salted one would
        merge_salt_buckets = 32 if src.rdd.getNumPartitions() > 128 else 1
    return _remerge(partial, delta, gcols, merge_salt_buckets)


def _remerge(
    partial: DataFrame,
    delta: float,
    gcols: list[str],
    salt_buckets: int = 1,
) -> DataFrame:
    """Merge partial digest rows (same schema as the output) per group.
    ``salt_buckets > 1`` inserts an intermediate per-(group, salt)
    sub-merge (salt = content hash of the centroid means) so the final
    per-group merge reads <= salt_buckets rows instead of one row per
    upstream map task — see ``tdigest_sketch``."""
    out_schema = digest_schema([partial.schema[c] for c in gcols])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdf["means"]])
        weights = np.concatenate(
            [np.asarray(x, dtype=np.float64) for x in pdf["weights"]]
        )
        m, w = _merge_centroids(means, weights, delta)
        row = {c: pdf[c].iloc[0] for c in gcols}
        row.update(
            means=m.tolist(),
            weights=w.tolist(),
            total=float(w.sum()),
            vmin=float(pdf["vmin"].min()),
            vmax=float(pdf["vmax"].max()),
        )
        return pd.DataFrame([row])

    if salt_buckets and salt_buckets > 1:
        salted = partial.withColumn(
            "__ds", F.pmod(F.xxhash64("means"), F.lit(salt_buckets))
        )
        partial = salted.groupBy(*gcols, "__ds").applyInPandas(
            lambda pdf: merge(pdf.drop(columns="__ds")), schema=out_schema
        )
    if gcols:
        return partial.groupBy(*gcols).applyInPandas(merge, schema=out_schema)
    return (
        partial.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(lambda pdf: merge(pdf.drop(columns="__g")), schema=out_schema)
    )


def merge_tdigests(a: DataFrame, b: DataFrame, delta: float = 200.0,
                   group_cols: Sequence[str] | None = None) -> DataFrame:
    """Merge two digests (e.g. a stored baseline with a new day's
    sketch): union of centroid rows -> one more merging pass."""
    gcols = list(group_cols or [])
    cols = gcols + ["means", "weights", "total", "vmin", "vmax"]
    return _remerge(a.select(*cols).unionByName(b.select(*cols)), delta, gcols)


def tdigest_quantiles(
    digest: DataFrame,
    probs: Sequence[float],
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """(group..., prob, quantile) rows — quantile estimates from a
    digest.  The digest side is tiny (1 row per group); this is a
    vectorized eval, not a data-scale operation."""
    gcols = list(group_cols or [])
    p = np.asarray(list(probs), dtype=np.float64)
    schema = StructType(
        [digest.schema[c] for c in gcols]
        + [StructField("prob", DoubleType(), False),
           StructField("quantile", DoubleType(), False)]
    )

    def evaluate(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                qs = _digest_quantile(
                    p,
                    np.asarray(r["means"], dtype=np.float64),
                    np.asarray(r["weights"], dtype=np.float64),
                    float(r["total"]), float(r["vmin"]), float(r["vmax"]),
                )
                for prob, quant in zip(p, qs):
                    row = {c: r[c] for c in gcols}
                    row.update(prob=float(prob), quantile=float(quant))
                    out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return digest.mapInPandas(evaluate, schema=schema)


def tdigest_drift(
    digest_p: DataFrame,
    digest_q: DataFrame,
    bins: int = 10,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., psi, ks, tv) between baseline digests ``digest_p``
    and current digests ``digest_q``, one row per group (one in all
    over no keys), on ``bins`` equal-mass bins cut at the BASELINE
    digest's quantiles (production PSI formulation: deciles of the
    baseline) — the shared ``drift.psi_ks_from_counts`` tail of every
    sketch family. Only #groups digest rows are joined and evaluated.
    A group with no current digest (no rows, or all NULL) gets
    all-zero current mass, and a group with no baseline digest gets
    all-zero baseline mass against current mass in one bin — maximal
    drift either way, never no comparison."""
    from datapact_spark.operators.drift import psi_ks_from_counts

    g = list(group_cols)
    fields = ("means", "weights", "total", "vmin", "vmax")
    p1 = digest_p.select(*g, *[F.col(c).alias(f"p_{c}") for c in fields])
    q1 = digest_q.select(*g, *[F.col(c).alias(f"q_{c}") for c in fields])
    # over no keys both digests are one row (or none)
    both = p1.join(q1, on=g or None, how="full")
    schema = StructType(
        [p1.schema[c] for c in g]
        + [StructField("bin", LongType(), False),
           StructField("p_cnt", DoubleType(), False),
           StructField("q_cnt", DoubleType(), False)]
    )

    def absent(v) -> bool:
        # a side absent from the outer join
        return v is None or (isinstance(v, float) and pd.isna(v))

    def mass_rows(r, p_mass, q_mass) -> list[dict]:
        return [
            {**{c: r[c] for c in g}, "bin": i,
             "p_cnt": float(p_mass[i]), "q_cnt": float(q_mass[i])}
            for i in range(bins)
        ]

    def masses(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                if absent(r["p_means"]):
                    # no baseline: no edges, so the current mass is one bin
                    p_mass, q_mass = np.zeros(bins), np.zeros(bins)
                    q_mass[0] = float(r["q_total"])
                    out.extend(mass_rows(r, p_mass, q_mass))
                    continue
                pm = np.asarray(r["p_means"], dtype=np.float64)
                pw = np.asarray(r["p_weights"], dtype=np.float64)
                edges = _digest_quantile(
                    np.linspace(0.0, 1.0, bins + 1), pm, pw,
                    float(r["p_total"]), float(r["p_vmin"]), float(r["p_vmax"]),
                )
                # open tails so values outside the baseline range count
                edges[0], edges[-1] = -np.inf, np.inf
                p_cdf = _digest_cdf(edges, pm, pw, float(r["p_total"]),
                                    float(r["p_vmin"]), float(r["p_vmax"]))
                p_mass = np.diff(p_cdf) * float(r["p_total"])
                if absent(r["q_means"]):
                    q_mass = np.zeros(bins)
                else:
                    qm = np.asarray(r["q_means"], dtype=np.float64)
                    qw = np.asarray(r["q_weights"], dtype=np.float64)
                    q_cdf = _digest_cdf(edges, qm, qw, float(r["q_total"]),
                                        float(r["q_vmin"]), float(r["q_vmax"]))
                    q_mass = np.diff(q_cdf) * float(r["q_total"])
                out.extend(mass_rows(r, p_mass, q_mass))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return psi_ks_from_counts(both.mapInPandas(masses, schema=schema), g)


# ---------------------------------------------------------------------------
# exact-percentile drift terms (oracle-checkable)
# ---------------------------------------------------------------------------


def midpoint_prob_weights(probs: Sequence[float]) -> list[float]:
    """Midpoint-rule cell widths for (sorted) quadrature points in
    [0, 1]: cell i spans from the midpoint below prob_i to the midpoint
    above it, with the end cells extended to 0 and 1.  The widths sum
    to exactly 1 and make a non-uniform prob grid a valid W1 rule."""
    parr = [float(p) for p in probs]
    n = len(parr)
    if n == 1:
        return [1.0]
    edges = (
        [0.0]
        + [(parr[i] + parr[i + 1]) / 2.0 for i in range(n - 1)]
        + [1.0]
    )
    return [edges[i + 1] - edges[i] for i in range(n)]


def exact_quantile_drift_terms(
    source: DataFrame, target: DataFrame, column: str, probs: Sequence[float]
) -> DataFrame:
    """(prob, q_source, q_target, w1_term, w1_running) — per-probability
    quantile-function gap terms between two relations, using Spark's
    exact ``percentile`` (bitwise-identical to DuckDB quantile_cont).

    ``w1_term = |q_source - q_target| * dp_i`` is the midpoint rule for
    the 1-Wasserstein distance W1 = integral |F_s^-1(u) - F_t^-1(u)| du,
    where ``dp_i`` is prob_i's actual cell width on [0, 1]
    (``midpoint_prob_weights`` — valid for NON-uniform prob grids, the
    default grid included); ``w1_running`` is its fixed-order (by prob)
    running sum, so the last row carries the W1 estimate — every value a
    deterministic IEEE sequence, hence strict-oracle comparable."""
    parr = [float(p) for p in probs]
    dps = midpoint_prob_weights(parr)
    dp = F.element_at(
        F.array(*[F.lit(w) for w in dps]), F.col("pos") + 1
    )
    plist = ",".join(repr(p) for p in parr)
    qs = source.agg(
        F.expr(f"percentile(CAST({column} AS DOUBLE), array({plist}))").alias("qs")
    )
    qt = target.agg(
        F.expr(f"percentile(CAST({column} AS DOUBLE), array({plist}))").alias("qt")
    )
    probs_df = F.posexplode(F.array(*[F.lit(p) for p in parr]))
    joined = (
        qs.crossJoin(qt)
        .select(probs_df.alias("pos", "prob"), "qs", "qt")
        .select(
            "pos",
            "prob",
            F.element_at(F.col("qs"), F.col("pos") + 1).alias("q_source"),
            F.element_at(F.col("qt"), F.col("pos") + 1).alias("q_target"),
        )
        .select(
            "prob", "q_source", "q_target",
            (F.abs(F.col("q_source") - F.col("q_target")) * dp).alias("w1_term"),
        )
    )
    w = Window.orderBy("prob").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "prob", "q_source", "q_target", "w1_term",
        F.sum("w1_term").over(w).alias("w1_running"),
    )
