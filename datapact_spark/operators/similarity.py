"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: query rows
  broadcast against the corpus, dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, no Python), ranked per query.
* LSH-bucketed ANN (random hyperplane signs) — the scale path: corpus
  and queries hashed to sign-bit buckets; candidates come only from
  matching buckets (multi-probe over all hash tables), then exact
  cosine re-rank. At 10^12 rows the bucket join replaces the full
  cross product.
* embedding-cosine near-dup: all-pairs above a cosine threshold via the
  same LSH bucketing.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    Queries (small) are broadcast; the corpus streams through one pass
    computing cosine per (query, row), then a per-query window ranks.
    Output: (query_id, neighbor_id, cosine_sim, rank). Self-matches
    excluded. Ties broken by neighbor id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int) -> list[list[list[float]]]:
    rng = random.Random(seed)
    return [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(bits)]
        for _ in range(tables)
    ]


def make_sign_buckets_udf(planes: list[list[list[float]]]):
    """Vectorized (Arrow/numpy) LSH signature builder: for each row's
    vector, one bucket id per hash table, computed as a single batch
    matmul against the stacked hyperplane matrix.

    This is a sketch *build* — the one place the north-star contract
    allows a pandas UDF — and it replaces tables×bits interpreted
    ``F.aggregate`` dot products per row with one numpy GEMM per Arrow
    batch (~100× less Python/JVM overhead).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    tables = len(planes)
    bits = len(planes[0])
    # stack to (tables*bits, dim); bucket t = bits [t*bits, (t+1)*bits)
    mat = np.asarray(planes, dtype=np.float64).reshape(tables * bits, -1).T  # (dim, T*B)
    weights = (1 << np.arange(bits, dtype=np.int64))  # bit weights within a table

    @pandas_udf(ArrayType(LongType()))
    def sign_buckets(vecs: pd.Series) -> pd.Series:
        arr = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (arr @ mat) >= 0  # (n, T*B)
        signs = signs.reshape(len(arr), tables, bits)
        buckets = (signs * weights).sum(axis=2) + (np.arange(tables, dtype=np.int64) << 32)
        return pd.Series(list(buckets))

    return sign_buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets (``tables``
    independent hash tables of ``bits`` bits), candidates = corpus rows
    sharing a bucket with the query in ANY table, exact cosine re-rank
    of candidates. Recall grows with tables; cost stays ~bucket-sized.
    Corpus buckets above ``max_bucket_size`` are dropped (degenerate-
    vector protection — see dedup.cap_bucket_size). Output schema
    matches ``brute_force_topk``."""
    from datapact_spark.operators.dedup import cap_bucket_size

    planes = _hyperplanes(dim, bits, tables, seed)
    buckets_udf = make_sign_buckets_udf(planes)

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            buckets_udf(F.col(vec_col)).alias("__buckets"),
        ).select(id_alias, vec_alias, F.explode_outer("__buckets").alias("bucket"))

    c = cap_bucket_size(
        with_buckets(corpus, "neighbor_id", "c_vec"), ["bucket"], max_bucket_size
    )
    q = with_buckets(queries, "query_id", "q_vec")
    cands = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic coarse-quantizer training for IVF: seed centroids
    are the ``nlist`` corpus vectors with the smallest
    ``xxhash64(id, seed)`` (a seeded uniform draw that is stable across
    partitionings), refined by ``iters`` Lloyd iterations.

    Each iteration is one distributed pass: assign via the batched-GEMM
    UDF, per-list mean via ``applyInPandas`` (vectorized np.mean per
    list — only (list, vec) rows shuffle).  At 10^12 rows pass
    ``sample_fraction`` so training sees a seeded sample; the returned
    matrix is (nlist, dim) on the driver — bounded by nlist, never by
    the corpus.  Centroids are L2-normalized (cosine geometry)."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    train = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    seeds = (
        train.orderBy(F.xxhash64("id", F.lit(seed)), F.col("id"))
        .limit(nlist)
        .select("v")
        .collect()
    )
    cents = np.stack([np.asarray(r["v"], dtype=np.float64) for r in seeds])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    mean_schema = StructType(
        [StructField("list_id", LongType(), False),
         StructField("centroid", ArrayType(DoubleType()), False)]
    )

    def list_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            [{"list_id": int(pdf["list_id"].iloc[0]),
              "centroid": arr.mean(axis=0).tolist()}]
        )

    for _ in range(iters):
        assign = make_ivf_assign_udf(cents, nprobe=1)
        assigned = train.select(
            F.element_at(assign(F.col("v")), 1).alias("list_id"), "v"
        )
        rows = assigned.groupBy("list_id").applyInPandas(
            list_mean, schema=mean_schema
        ).collect()
        new = cents.copy()  # empty lists keep their previous centroid
        for r in rows:
            new[r["list_id"]] = np.asarray(r["centroid"], dtype=np.float64)
        new /= np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        cents = new
    return cents


def make_ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Vectorized IVF list assignment: per Arrow batch, one GEMM
    against the (nlist, dim) centroid matrix, emitting each vector's
    ``nprobe`` nearest lists by cosine (sanctioned pandas-UDF use —
    same contract as ``make_sign_buckets_udf``)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    mat = centroids.T  # (dim, nlist)
    npb = min(nprobe, centroids.shape[0])

    @pandas_udf(ArrayType(LongType()))
    def assign(vecs: pd.Series) -> pd.Series:
        arr = np.stack(vecs.to_numpy()).astype(np.float64)
        arr /= np.maximum(np.linalg.norm(arr, axis=1, keepdims=True), 1e-12)
        sims = arr @ mat  # (n, nlist)
        # top-npb lists, best first, deterministic tie-break by list id
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
        return pd.Series(list(idx.astype(np.int64)))

    return assign


def ivf_assignments(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One GEMM pass assigning every corpus row to its nearest Voronoi
    list: (neighbor_id, c_vec, list_id). This is the expensive half of
    an IVF index — persist it with ``ledger.IvfIndexStore`` to serve
    repeated query batches without re-scanning the corpus."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.element_at(
            make_ivf_assign_udf(centroids, 1)(F.col(vec_col)), 1
        ).alias("list_id"),
    )


def ivf_probe_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Query side of IVF: each query probes its ``nprobe`` nearest
    lists of a (possibly stored) assignment table; probed rows are
    exactly re-ranked. When ``assigned`` is read from an
    ``IvfIndexStore`` (parquet partitioned by list_id), the broadcast
    join on the partition column lets dynamic partition pruning skip
    every unprobed list's files."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode_outer(
            make_ivf_assign_udf(centroids, nprobe)(F.col(vec_col))
        ).alias("list_id"),
    )
    cands = (
        assigned.join(F.broadcast(q), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def corpus_fingerprint(corpus: DataFrame, id_col: str = "vec_id") -> tuple[int, int]:
    """Cheap corpus-identity probe for index freshness: (row count,
    commutative 64-bit id hash). ``bit_xor(xxhash64(id))`` is
    order-independent, overflow-free, and the scan is column-pruned to
    the id alone — one aggregate pass, no vectors read. Collision odds
    for an *accidental* match after a corpus change are ~2^-64 (plus
    the count must also match)."""
    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64(`{id_col}`))").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] if row["h"] is not None else 0)


def derive_ivf_nlist(n_rows: int, floor: int = 8, cap: int = 65_536) -> int:
    """Standard IVF coarse-quantizer sizing: ``nlist ≈ sqrt(n)``
    balances the assignment cost (n·nlist GEMM) against probe cost
    (nprobe·n/nlist rows re-ranked) — both O(n·sqrt(n)) at the
    optimum. Clamped to [floor, cap]; cap bounds the driver-side
    centroid collect."""
    import math

    if n_rows <= 1:
        return floor
    return max(floor, min(cap, int(round(math.sqrt(n_rows)))))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = 32,
    nprobe: int = 4,
    iters: int = 2,
    sample_fraction: float | None = None,
    seed: int = 42,
    index_store=None,
    index_name: str | None = None,
    rebuild: bool = False,
    check_freshness: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    scale path alongside ``lsh_topk``: the corpus is partitioned into
    ``nlist`` Voronoi lists (one assignment pass), each query probes
    its ``nprobe`` nearest lists, and only those lists' rows are
    exactly re-ranked.  Per query the scan cost is ~nprobe/nlist of
    the corpus; recall grows with nprobe (nprobe == nlist is exact).
    Output schema matches ``brute_force_topk``.

    With ``index_store``/``index_name`` (an ``ledger.IvfIndexStore``),
    training and corpus assignment run only when the named index does
    not exist yet; later calls serve queries straight from the stored
    (centroids, assignments) — no training pass, no corpus GEMM, and
    partition pruning on the probed lists. The CALLER owns index
    invalidation by default: a changed corpus is served stale until
    ``rebuild=True`` (or the index directory is deleted) — checking
    corpus identity on every call would cost a corpus scan, which the
    id-only probe below keeps cheap but not free.

    ``check_freshness=True`` opts into that probe: before serving, one
    column-pruned aggregate over the live corpus's id column
    (``corpus_fingerprint``) is compared to the fingerprint stored in
    the index meta at build time; a mismatch (or an index written
    before meta existed) triggers an automatic rebuild instead of
    silently serving stale neighbors. The default stays zero-cost on
    the serve path.

    ``nlist=None`` derives the list count from a corpus count via the
    standard ``sqrt(n)`` rule (``derive_ivf_nlist``) — one
    column-pruned aggregate scan, skipped when an existing index is
    being served (the stored assignment already fixes the lists)."""
    if index_store is not None and index_name is not None:
        fp: tuple[int, int] | None = None
        build = rebuild or not index_store.exists(index_name)
        if not build and check_freshness:
            fp = corpus_fingerprint(corpus, id_col)
            meta = index_store.read_meta(index_name)
            if (
                meta is None
                or (int(meta.get("n_rows", -1)), int(meta.get("id_hash", 0))) != fp
            ):
                build = True
        if build:
            if nlist is None:
                nlist = derive_ivf_nlist(corpus.count())
            cents = train_ivf_centroids(
                corpus, nlist, id_col, vec_col, iters, sample_fraction, seed
            )
            if fp is None:
                fp = corpus_fingerprint(corpus, id_col)
            index_store.write(
                index_name,
                cents,
                ivf_assignments(corpus, cents, id_col, vec_col),
                meta={"n_rows": fp[0], "id_hash": fp[1]},
            )
        cents, assigned = index_store.read(index_name)
    else:
        if nlist is None:
            nlist = derive_ivf_nlist(corpus.count())
        cents = train_ivf_centroids(
            corpus, nlist, id_col, vec_col, iters, sample_fraction, seed
        )
        assigned = ivf_assignments(corpus, cents, id_col, vec_col)
    return ivf_probe_topk(assigned, cents, queries, k, id_col, vec_col, nprobe)


def derive_lsh_bits(n_rows: int, floor: int = 8, cap: int = 28) -> int:
    """Constant-occupancy hyperplane-count rule: ``bits ≈ log2(n) − 6``
    keeps the expected rows-per-bucket near 2^6 = 64 as the corpus
    grows, which is what makes the self-join shuffle volume LINEAR in
    n (measured in BENCH.md §r4: fixed bits=12 at 8M vectors blew the
    shuffle super-linearly; bits=17 = log2(8M)−6 restored 8.7× volume
    for 8× vectors). Clamped to [floor, cap]: below 2^14 rows the
    fixed floor keeps recall stable on small corpora, and past cap the
    per-bucket constant already dominates."""
    import math

    if n_rows <= 1:
        return floor
    return max(floor, min(cap, int(round(math.log2(n_rows))) - 6))


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int | None = 12,
    tables: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join:
    (id_a, id_b, cosine_sim) with sim ≥ threshold, id_a < id_b.
    Buckets above ``max_bucket_size`` are dropped so one degenerate
    bucket (e.g. all-zero vectors) can't go quadratic.

    ``bits=None`` derives the hyperplane count from a cheap corpus
    count via the constant-occupancy rule (``derive_lsh_bits``,
    bits ≈ log2(n) − 6) — the setting that keeps shuffle volume linear
    in corpus size instead of leaving the 8M-vector cliff to the
    caller. The count is one column-pruned aggregate scan; pass an
    explicit ``bits`` to skip it."""
    from datapact_spark.operators.dedup import _bucket_self_join

    if bits is None:
        bits = derive_lsh_bits(df.count())
    planes = _hyperplanes(dim, bits, tables, seed)
    buckets_udf = make_sign_buckets_udf(planes)
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        buckets_udf(F.col(vec_col)).alias("__buckets"),
    ).select("id", "v", F.explode_outer("__buckets").alias("bucket"))
    pairs = (
        _bucket_self_join(b, ["bucket"], max_bucket_size)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )
