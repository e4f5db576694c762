"""PK-join row-hash comparison (validation.sql.j2:190-221).

Hash the configured columns (or all columns) per row on each side, inner
join on the primary key(s), and count mismatches. Violation rows (the
mismatching keys) are materialized on demand — the reference only counts
(j2:195-197); the north star requires the rows.

Scale notes:
  * the join shuffles both sides on the PK — AQE skew-join splitting is
    on (session.py); for a dimension-sized side Catalyst broadcasts.
  * hashing happens before the join so only (pks, hash) columns shuffle,
    not full rows — this is the dominant cost saver at wide schemas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapact_spark.functions.hashing import row_hash


def _hashed(
    df: DataFrame,
    pks: list[str],
    hash_columns: list[str] | None,
    algo: str,
    serialization: str = "json",
) -> DataFrame:
    cols = hash_columns if hash_columns else df.columns
    return df.select(
        *[F.col(pk) for pk in pks],
        row_hash([F.col(c) for c in cols], algo, serialization).alias("row_hash"),
    )


def row_hash_metrics(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    hash_columns: list[str] | None = None,
    algo: str = "md5",
    serialization: str = "json",
) -> DataFrame:
    """1-row DF: (total_compared_rows, mismatch_count)."""
    s = _hashed(source, primary_keys, hash_columns, algo, serialization).alias("s")
    t = _hashed(target, primary_keys, hash_columns, algo, serialization).alias("t")
    joined = s.join(t, on=primary_keys, how="inner")
    return joined.agg(
        F.count(F.lit(1)).alias("total_compared_rows"),
        F.coalesce(
            F.sum(F.when(F.col("s.row_hash") != F.col("t.row_hash"), 1).otherwise(0)),
            F.lit(0),
        ).alias("mismatch_count"),
    )


def row_hash_violations(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    hash_columns: list[str] | None = None,
    algo: str = "md5",
) -> DataFrame:
    """Violation rows: PKs whose hashes differ, with both hashes."""
    s = _hashed(source, primary_keys, hash_columns, algo).withColumnRenamed(
        "row_hash", "source_hash"
    )
    t = _hashed(target, primary_keys, hash_columns, algo).withColumnRenamed(
        "row_hash", "target_hash"
    )
    return (
        s.join(t, on=primary_keys, how="inner")
        .where(F.col("source_hash") != F.col("target_hash"))
        .select(*primary_keys, "source_hash", "target_hash")
    )


def grouped_row_hash_metrics(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    group_cols: list[str],
    hash_columns: list[str] | None = None,
    algo: str = "md5",
    compact_shuffle: bool = True,
) -> DataFrame:
    """Per-partition-group hash-compare metrics. Group columns are taken
    from the source side of the join.

    ``compact_shuffle`` (default): the join key (the PK tuple) is folded
    to TWO independent 64-bit xxhash64 values (different seeds — an
    effective 128-bit key, so a cross-key collision that would join
    unrelated rows and count phantom mismatches needs a 2^-128 event),
    and the row hash to one 64-bit fold. Each shuffled row is then
    ~(16B key + 8B hash + group cols) instead of full PK strings + a
    64-char digest — at 10^12 rows the difference between shuffling
    terabytes and tens of TB. The configured row hash (e.g. sha256
    parity/invariant) is still computed per row; only its fold travels.
    A real mismatch is missed only if two different row digests fold to
    the same 64 bits on a matching key (~n/2^64 — same bound as the
    commutative dataset fingerprint). Set False for exact-digest,
    exact-key comparison in the shuffle.
    """
    cols = hash_columns if hash_columns else [
        c for c in source.columns if c not in group_cols
    ]
    rh = row_hash([F.col(c) for c in cols], algo)
    if compact_shuffle:
        pk_cols = [F.col(pk) for pk in primary_keys]
        key1 = F.xxhash64(*pk_cols).alias("__k1")
        key2 = F.xxhash64(F.lit(0x9E3779B9), *pk_cols).alias("__k2")
        s = source.select(
            key1,
            key2,
            *[F.col(g) for g in group_cols],
            F.xxhash64(rh).alias("s_hash"),
        )
        t = target.select(key1, key2, F.xxhash64(rh).alias("t_hash"))
        joined = s.join(t, on=["__k1", "__k2"], how="inner")
    else:
        s = source.select(
            *[F.col(pk) for pk in primary_keys],
            *[F.col(g) for g in group_cols if g not in primary_keys],
            rh.alias("s_hash"),
        )
        t = target.select(
            *[F.col(pk) for pk in primary_keys], rh.alias("t_hash")
        )
        joined = s.join(t, on=primary_keys, how="inner")
    return joined.groupBy(*[F.col(g) for g in group_cols]).agg(
        F.count(F.lit(1)).alias("total_compared_rows"),
        F.coalesce(
            F.sum(F.when(F.col("s_hash") != F.col("t_hash"), 1).otherwise(0)), F.lit(0)
        ).alias("mismatch_count"),
    )


def grouped_row_hash_metrics_fingerprint(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    group_cols: list[str],
    hash_columns: list[str] | None = None,
    algo: str = "md5",
    scope_join: str = "broadcast",
) -> DataFrame:
    """Fingerprint-first grouped hash compare — the minimal-shuffle path.

    NOTE: when computing per-partition verdicts, prefer the compiler's
    folded variant (plans/partitioned.py ``fp_in_profile``) which rides
    the profile scan for free; this standalone operator re-scans the
    input for the fingerprint pass.

    Each side is projected ONCE to a compact frame
    ``(group…, k1, k2, h)`` — the 128-bit folded PK plus the 64-bit
    folded row hash (~40 B/row vs the full ~1 KB row). From that
    frame:

    1. a per-group commutative fingerprint ``sum(xxhash64(k1,k2,h))``
       (DECIMAL accumulator) + count — a plain aggregate with full
       map-side combine, so the shuffle carries one ~40-byte partial per
       (group × map task). Groups whose count AND fingerprint match are
       exactly equal (collision ~2^-64/group) and report
       (total_compared_rows = source rows, mismatch_count = 0);
    2. ONLY fingerprint-unequal groups — in a healthy pipeline, a tiny
       fraction — are re-checked with the exact (k1,k2) join, scoped by
       a broadcast semi-join against the failing-group key list; on
       group-partitioned input, dynamic partition pruning limits that
       second read to the failing groups' files.

    At 10^12 rows with 0.1% dirty groups this shuffles ~0.1% of what the
    all-groups join does, and the heavy work (scan + sha256) happens
    once per side plus once more for the dirty groups. Duplicate-PK semantics: the fingerprint is a
    commutative sum over (pk, row_hash), so a fingerprint-equal group
    has EQUAL MULTISETS of (pk, hash) — no corruption is ever missed
    (unequal multisets fingerprint-unequal, collision ~2^-64) — but the
    JOIN path would fan out dup PKs into cross-pairs ({(k,h1),(k,h2)}
    joins h1×h2) and count phantom mismatches where this reports 0.
    Join-bit-parity therefore requires per-group-unique PKs; the config
    layer enforces that (``row_hash_mode='fingerprint'`` requires a PK
    uniqueness check, and the compiler reroutes dup-PK groups to the
    exact join), while ``row_hash_mode='fingerprint_multiset'`` opts
    into multiset semantics with no uniqueness cost. Output schema
    matches ``grouped_row_hash_metrics``:
    (group_cols…, total_compared_rows, mismatch_count).
    """
    cols = hash_columns if hash_columns else [
        c for c in source.columns if c not in group_cols
    ]
    rh = row_hash([F.col(c) for c in cols], algo)
    pk_cols = [F.col(pk) for pk in primary_keys]

    def compact(df: DataFrame) -> DataFrame:
        return df.select(
            *[F.col(g) for g in group_cols],
            F.xxhash64(*pk_cols).alias("__k1"),
            F.xxhash64(F.lit(0x9E3779B9), *pk_cols).alias("__k2"),
            F.xxhash64(rh).alias("__h"),
        )

    s, t = compact(source), compact(target)
    fp = F.sum(F.xxhash64("__k1", "__k2", "__h").cast("decimal(38,0)"))

    def side_fp(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(*[F.col(g) for g in group_cols]).agg(
            F.count(F.lit(1)).alias(f"{tag}_n"), fp.alias(f"{tag}_fp")
        )

    cmp = side_fp(s, "s").join(side_fp(t, "t"), on=group_cols, how="full_outer")
    # equality via sentinel-coalesced plain comparisons, NOT
    # isNotNull/eqNullSafe: Spark's dynamic-partition-pruning rule only
    # fires when the build-side filter is "likely selective", and
    # EqualNullSafe/IsNotNull defeat that heuristic — with plain
    # comparisons the detail re-scan gets a dynamicpruning partition
    # filter on repo-partitioned storage. Distinct sentinels keep a
    # missing side (NULL count/fp) unequal to anything real; counts are
    # ≥1 for any group the aggregate emitted, so -1/-2 can't collide.
    equal = (
        F.coalesce(F.col("s_n"), F.lit(-1)) == F.coalesce(F.col("t_n"), F.lit(-2))
    ) & (
        F.coalesce(F.col("s_fp"), F.lit(-1).cast("decimal(38,0)"))
        == F.coalesce(F.col("t_fp"), F.lit(-2).cast("decimal(38,0)"))
    )
    passing = cmp.where(equal).select(
        *[F.col(g) for g in group_cols],
        F.col("s_n").alias("total_compared_rows"),
        F.lit(0).cast("long").alias("mismatch_count"),
    )
    failing_keys = cmp.where(~equal).select(*[F.col(g) for g in group_cols])
    # scope_join='broadcast' (default): hint the failing-key list to the
    # driver — DPP-optimal and right for the designed regime (mostly-
    # clean data ⇒ a tiny key list). 'auto': no hint; AQE converts the
    # semi-join to broadcast at runtime when the materialized key list
    # is actually small, and keeps a shuffled join when corruption is
    # widespread — the safe mode when the clean-data assumption may not
    # hold (an unbounded driver broadcast would otherwise OOM).
    if scope_join == "broadcast":
        failing_keys = F.broadcast(failing_keys)
    s_f = s.join(failing_keys, on=group_cols, how="left_semi")
    t_f = t.join(failing_keys, on=group_cols, how="left_semi")
    joined = s_f.join(t_f.select("__k1", "__k2", F.col("__h").alias("__th")),
                      on=["__k1", "__k2"], how="inner")
    detailed = joined.groupBy(*[F.col(g) for g in group_cols]).agg(
        F.count(F.lit(1)).alias("total_compared_rows"),
        F.coalesce(
            F.sum(F.when(F.col("__h") != F.col("__th"), 1).otherwise(0)), F.lit(0)
        ).alias("mismatch_count"),
    )
    # groups missing entirely from the source side join to nothing — keep
    # them visible with zeroed compares (the count check fails them)
    detailed_all = failing_keys.join(detailed, on=group_cols, how="left").select(
        *[F.col(g) for g in group_cols],
        F.coalesce(F.col("total_compared_rows"), F.lit(0)).alias("total_compared_rows"),
        F.coalesce(F.col("mismatch_count"), F.lit(0)).alias("mismatch_count"),
    )
    return passing.unionByName(detailed_all)


def grouped_null_join_metrics(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    null_columns: list[str],
    group_cols: list[str],
) -> DataFrame:
    """Per-partition-group PK-join null parity: the grouped analogue of
    ``null_join_metrics`` — group columns come from the source side."""
    s = source.select(
        *primary_keys,
        *[F.col(g) for g in group_cols if g not in primary_keys],
        *[F.col(c).alias(f"__s_{c}") for c in null_columns],
    )
    t = target.select(
        *primary_keys, *[F.col(c).alias(f"__t_{c}") for c in null_columns]
    )
    joined = s.join(t, on=primary_keys, how="inner")
    exprs = []
    for c in null_columns:
        exprs.append(
            F.sum(F.when(F.col(f"__s_{c}").isNull(), 1).otherwise(0)).alias(
                f"source_nulls_{c}"
            )
        )
        exprs.append(
            F.sum(F.when(F.col(f"__t_{c}").isNull(), 1).otherwise(0)).alias(
                f"target_nulls_{c}"
            )
        )
    return joined.groupBy(*[F.col(g) for g in group_cols]).agg(*exprs)


def null_join_metrics(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    null_columns: list[str],
) -> DataFrame:
    """PK-join null parity (validation.sql.j2:224-241): join on PKs and
    count NULLs per configured column on each side — all columns in one
    pass over the joined relation."""
    s = source.select(*primary_keys, *[F.col(c).alias(f"__s_{c}") for c in null_columns])
    t = target.select(*primary_keys, *[F.col(c).alias(f"__t_{c}") for c in null_columns])
    joined = s.join(t, on=primary_keys, how="inner")
    exprs = []
    for c in null_columns:
        exprs.append(
            F.sum(F.when(F.col(f"__s_{c}").isNull(), 1).otherwise(0)).alias(f"source_nulls_{c}")
        )
        exprs.append(
            F.sum(F.when(F.col(f"__t_{c}").isNull(), 1).otherwise(0)).alias(f"target_nulls_{c}")
        )
    return joined.agg(*exprs)
