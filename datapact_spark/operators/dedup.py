"""Deduplication operators for training-data pipelines.

* exact: hash-groupBy on a canonical fingerprint (one shuffle of
  (hash, id) pairs only);
* MinHash + LSH: shingle → minhash signature → band buckets →
  within-bucket candidate join → Jaccard verify. The all-pairs O(n²)
  comparison is avoided: pairs are only generated inside LSH buckets.
* SimHash: 64-bit weighted-projection hash, near-dups = small Hamming
  distance within identical high-bit prefixes.
* n-gram Jaccard: exact verified similarity on candidate pairs.

Minhash signatures (a·h + b) mod p over xxhash64 shingle hashes are
one numpy kernel in ``mapInPandas``; each LSH self-join reads its bucket
rows through one shuffle (``_bucket_self_join``), so the kernel runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cap_bucket_size(
    df: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop rows belonging to degenerate LSH buckets (more than
    ``max_bucket_size`` members). Without a cap, one adversarial bucket —
    every empty document, a templated boilerplate page, a constant
    column — funnels n rows into a single key and a within-bucket join
    goes O(n²): fatal at 100 TB. Callers: ``lsh_topk`` and
    ``codeops.near_clone_pairs``, which do not self-join the capped rows
    (the self-joins cap inside ``_bucket_self_join``).

    Implementation: ``groupBy(bucket).count()`` (map-side partial
    aggregation → the shuffle carries one partial row per distinct
    bucket per task, not the exploded fact rows), filter to the
    oversized keys (a handful by construction), broadcast anti-join
    them back. A window-count cap costs an extra shuffle of the
    exploded rows only when its exchange differs from the consumer's.

    Recall trade-off (documented): members of an over-full bucket lose
    THIS bucket's collisions but still meet in their other bands/tables
    when genuinely similar; true mass-duplicates should be removed by
    ``exact_duplicates`` before LSH.

    The anti-join condition is null-safe (``eqNullSafe`` per bucket
    column), so an oversized all-NULL bucket is dropped — callers may
    pass nullable bucket keys."""
    if not max_bucket_size:
        return df
    oversized = (
        df.groupBy(*[F.col(c) for c in bucket_cols])
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .where(F.col("__bucket_n") > max_bucket_size)
        .drop("__bucket_n")
    )
    renamed = oversized.select(
        *[F.col(c).alias(f"__cap_{c}") for c in bucket_cols]
    )
    cond = None
    for c in bucket_cols:
        clause = F.col(c).eqNullSafe(F.col(f"__cap_{c}"))
        cond = clause if cond is None else cond & clause
    return df.join(F.broadcast(renamed), cond, "left_anti")


def _bucket_self_join(
    df: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Row pairs sharing a bucket, aliased ``a``/``b`` with ``a.id <
    b.id``, over buckets of at most ``max_bucket_size`` rows (NULL-id
    rows count toward the size). One repartition on the bucket key
    feeds the cap — a ``count(*)`` window over that partitioning, so no
    extra exchange — and both join sides, which AQE reuses: the Python
    kernel under ``df`` runs once (a groupBy + anti-join cap re-ran it)."""
    b = df.repartition(*bucket_cols)
    if max_bucket_size:
        bn = F.count(F.lit(1)).over(Window.partitionBy(*bucket_cols))
        b = b.withColumn("__bn", bn).where(F.col("__bn") <= max_bucket_size).drop("__bn")
    cond = F.col("a.id") < F.col("b.id")
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return b.alias("a").join(b.alias("b"), cond)


# 2^31-1: keeps (h mod M) * a < 2^62, inside 64-bit long arithmetic
_MERSENNE = (1 << 31) - 1


_PR = 1_000_003  # polynomial-hash multiplier, < 2^20 so products stay < 2^52


def _shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingle hashes (array<bigint>) — JVM-side.

    Implementation note: higher-order functions are evaluated
    interpreted, so any outer expression referenced inside a lambda
    body is RE-EVALUATED per element (an ``element_at(split(...), i)``
    gram loop costs O(tokens²) splits per row). Instead: hash tokens
    once (the split is the transform's input, evaluated once), then
    combine each token hash with its j-shifted copies via ``zip_with``
    over ``slice``d arrays — a rolling polynomial hash, O(tokens) per
    row, no captured expressions."""
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    h = F.transform(tokens, lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE)))
    if n > 1:
        acc = h
        for j in range(1, n):
            shifted = F.slice(h, j + 1, F.greatest(F.size(h) - j, F.lit(1)))
            acc = F.zip_with(
                acc,
                shifted,
                lambda a, b: F.pmod(
                    a * F.lit(_PR) + F.coalesce(b, F.lit(0)), F.lit(_MERSENNE)
                ),
            )
        k = F.greatest(F.size(h) - (n - 1), F.lit(1))
        h = F.slice(acc, 1, k)
    return F.array_distinct(h)


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by normalized-text fingerprint. Output: one row per
    duplicate document (keeper = min id per group), columns
    (fingerprint, keep_id, dup_id)."""
    from datapact_spark.operators.textops import doc_fingerprint
    from datapact_spark.session import persist_scoped
    from pyspark.storagelevel import StorageLevel

    # Persist the compact (id, fingerprint) proxy: the keepers
    # aggregate and the probe side are two consumers, and without the
    # persist each re-runs the full text scan + normalize + md5 (the
    # dominant cost — plan-verified doubled scans at r7). The cached
    # rows are ~50 B/doc (guide-§8 lightweight-proxy shape), orders of
    # magnitude under the text they replace at any scale. The caller's
    # ``cache_scope`` releases it.
    fp = persist_scoped(
        doc_fingerprint(df.select(id_col, text_col), text_col)
        .select(F.col(id_col).alias("dup_id"), "fingerprint"),
        StorageLevel.MEMORY_AND_DISK,
    )
    keepers = fp.groupBy("fingerprint").agg(F.min("dup_id").alias("keep_id"))
    return (
        fp.join(keepers, "fingerprint")
        .where(F.col("dup_id") != F.col("keep_id"))
        .select("fingerprint", "keep_id", "dup_id")
    )


def _minhash_perms(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>) — minhash signature per document.

    Permutation i is (a_i·h + b_i) mod M over the shingle hashes. Token
    hashes stay on the JVM (Spark ``xxhash64`` has no portable Python
    twin); the shingle rolling hash, distinct, and the ``num_hashes``
    permutation minima run as one numpy pass per document inside
    ``mapInPandas``, so the per-doc aggregation completes in the worker
    (no (id, shingle-hash) explode + grouped aggregation, no interpreted
    higher-order-function chain). Signatures are bit-identical to
    ``minhash_signatures_column``, the reference the tests compare
    against. The id column keeps its input type, so string doc ids
    work."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    abs_ = _minhash_perms(num_hashes, seed)
    A = np.array([a for a, _ in abs_], dtype=np.int64)
    B = np.array([b for _, b in abs_], dtype=np.int64)
    n = shingle_n

    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            tokens, lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE))
        ).alias("__h"),
    )
    schema = StructType([
        StructField("id", hashed.schema[0].dataType),
        StructField("sig", ArrayType(LongType())),
    ])

    def batches(it):
        for pdf in it:
            rows, sigs = [], []
            for row, arr in enumerate(pdf["__h"]):
                if arr is None:
                    # null text → explode(null) emitted no rows
                    continue
                h = np.asarray(arr, dtype=np.int64)
                s = h.size
                # zip_with(acc, slice(h, j+1, ...), coalesce(b, 0))
                # ≡ rolling over h padded with n-1 zeros; keep the
                # first max(s - (n-1), 1) entries, then distinct —
                # exactly _shingles' Column semantics
                hp = np.concatenate([h, np.zeros(n - 1, dtype=np.int64)])
                acc = h.copy()
                for j in range(1, n):
                    acc = (acc * _PR + hp[j:j + s]) % _MERSENNE
                sh = np.unique(acc[: max(s - (n - 1), 1)])
                sig = ((sh[:, None] * A + B) % _MERSENNE).min(axis=0)
                rows.append(row)
                sigs.append([int(x) for x in sig])
            yield pd.DataFrame(
                {"id": pdf["id"].take(rows).reset_index(drop=True),
                 "sig": pd.Series(sigs, dtype="object")}
            )

    return hashed.mapInPandas(batches, schema=schema)


def minhash_signatures_column(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Pure-Column ``minhash_signatures``: the reference its signatures
    are tested against (same permutations, same shingles)."""
    def _perm(a: int, b: int):
        # closure factory: F.transform introspects the lambda's arity,
        # so defaults-as-captures would look like a 3-arg lambda
        return lambda h: F.pmod(
            F.pmod(h, F.lit(_MERSENNE)) * F.lit(a) + F.lit(b), F.lit(_MERSENNE)
        )

    # Explode shingle hashes to (id, h) rows and take the num_hashes
    # permutation minima as ONE grouped aggregate. This evaluates the
    # shingling exactly once (array expressions referenced N times get
    # re-evaluated N× after Catalyst's CollapseProject) and the shuffle
    # carries only (id, num_hashes longs) partials.
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(text_col, shingle_n)).alias("h"),
    )
    mins = exploded.groupBy("id").agg(
        *[
            F.min(_perm(a, b)(F.col("h"))).alias(f"m{i}")
            for i, (a, b) in enumerate(_minhash_perms(num_hashes, seed))
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_band_hashes(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, band_hash): each signature split into ``bands`` bands
    of ``rows_per_band`` values, each band hashed — the LSH bucket keys
    shared by the self-join candidate path
    (``minhash_lsh_candidates``) and the index/probe path
    (``ledger.MinHashIndexStore`` + ``probe_near_dups``). Map-only."""
    return signatures.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1).cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` values, hash each band, self-join per (band,
    band_hash) bucket → candidate pairs (id_a < id_b). The join key is
    (band_idx, band_hash), so identical bands collide and the shuffle
    carries only (id, band_hash) pairs."""
    exploded = minhash_band_hashes(signatures, bands, rows_per_band)
    return (
        _bucket_self_join(exploded, ["band", "band_hash"], max_bucket_size)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )


def probe_near_dups(
    new_docs: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    threshold: float = 0.7,
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental-ingest near-dup check: find which NEW documents are
    near-duplicates of an already-indexed corpus — the continuous-crawl
    companion to ``minhash_dedup`` (which rescans everything). Returns
    ``(new_id, corpus_id, jaccard)`` for verified pairs ≥ ``threshold``.

    ``corpus_bands`` is the corpus's precomputed ``minhash_band_hashes``
    relation — from ``ledger.MinHashIndexStore`` (persistent, appendable)
    or built inline. The signature params (num_hashes/bands/shingle_n/
    seed) MUST match the ones the index was built with; the store's
    meta carries them.

    Scale shape (the contamination_check lesson): the new batch is
    small (a crawl increment), so its band hashes BROADCAST and the
    10^12-row index is probed with a map-side broadcast join — the
    corpus side never shuffles, never re-hashes, and candidate dedup
    happens AFTER the join (dedup before it would shuffle the index).
    Only matched corpus ids are semi-joined back to corpus text for the
    exact-Jaccard verify."""
    rows_per_band = num_hashes // bands
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n, seed
    )
    new_bands = minhash_band_hashes(new_sigs, bands, rows_per_band).select(
        F.col("id").alias("new_id"), "band", "band_hash"
    )
    if broadcast_new:
        new_bands = F.broadcast(new_bands)
    cands = (
        corpus_bands.join(new_bands, ["band", "band_hash"])
        .select(F.col("new_id"), F.col("id").alias("corpus_id"))
        .dropDuplicates()
    )
    new_sets = new_docs.select(
        F.col(id_col).alias("new_id"), _shingles(text_col, shingle_n).alias("sh_n")
    )
    corpus_sets = corpus.join(
        F.broadcast(cands.select("corpus_id").dropDuplicates()),
        corpus[id_col] == F.col("corpus_id"),
        "left_semi",
    ).select(
        F.col(id_col).alias("corpus_id"), _shingles(text_col, shingle_n).alias("sh_c")
    )
    joined = cands.join(F.broadcast(new_sets), "new_id").join(
        corpus_sets, "corpus_id"
    )
    inter = F.size(F.array_intersect("sh_n", "sh_c"))
    union = F.size(F.array_union("sh_n", "sh_c"))
    return joined.select(
        "new_id",
        "corpus_id",
        (inter / F.nullif(union.cast("double"), F.lit(0.0))).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs: join shingle sets to the
    (small) candidate list, intersect/union JVM-side. Output:
    (id_a, id_b, jaccard) for pairs ≥ threshold."""
    sets_df = df.select(
        F.col(id_col).alias("id"), _shingles(text_col, shingle_n).alias("sh")
    )
    joined = (
        candidates.join(sets_df.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets_df.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            (inter / F.nullif(union.cast("double"), F.lit(0.0))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Full near-dup pipeline: minhash → LSH candidates → Jaccard
    verify. Returns verified near-dup pairs (id_a, id_b, jaccard)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, seed)
    cands = minhash_lsh_candidates(sigs, bands, rows_per_band, max_bucket_size)
    return jaccard_verify(df, cands, id_col, text_col, shingle_n, threshold)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, sum the ±1
    contribution of each bit over tokens, sign → bit. All JVM Column
    arithmetic via transform/aggregate over the token array.

    ``token_hash``: optional Column→Column hash for tokens (default
    xxhash64). Pass an engine-portable hash (e.g. the md5-prefix fold
    used by the oracle-checked driver query) to make the whole simhash
    reproducible outside Spark; pass ``bits`` ≤ the hash's bit width."""
    # Explode tokens to (id, token_hash) rows, then ONE grouped
    # aggregate of lane-packed popcounts: each SUM accumulates 2 bit
    # positions in disjoint 31-bit lanes of a long (no higher-order
    # lambda — HOFs are interpreted and re-evaluate captured
    # expressions per element; this shape is whole-stage codegen with
    # map-side partial aggregation, same as the minhash signatures).
    # balance_i = 2*ones_i - n, so ceil(bits/2) packed sums + one count
    # replace `bits` SUM(±1) expressions — 64 bits costs 33 aggregate
    # buffers instead of 64, a ~2× smaller codegen'd update loop.
    # Lane width 31 bits ⇒ PROVABLY exact for any document Spark can
    # hold: each lane's value is at most the token count n, a Spark
    # string is capped at 2^31-1 bytes, and whitespace-separated tokens
    # cost >= 2 bytes each, so n <= 2^30 < 2^31 — no carry into the
    # neighboring lane is reachable (the earlier 20-bit × 3 packing
    # silently corrupted signatures past 2^20 (~1M) tokens, a realistic
    # >5 MB crawl document). The per-row addend is < 2^31 + 2^0 + 1 and
    # the sum over <= 2^30 tokens stays < 2^62 — no long overflow.
    if token_hash is None:
        token_hash = F.xxhash64
    lanes_per_sum = 2
    lane_bits = 31
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(tokens).alias("tok")
    ).select("id", token_hash(F.col("tok")).alias("h"))

    def packed(j: int) -> F.Column:
        # lanes j*lanes_per_sum .. j*lanes_per_sum+lanes_per_sum-1
        # → bits of h at those positions
        addend = None
        for k in range(lanes_per_sum):
            i = j * lanes_per_sum + k
            if i >= bits:
                break
            bit = F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit, k * lane_bits)
            addend = term if addend is None else addend + term
        return F.sum(addend).alias(f"p{j}")

    n_sums = (bits + lanes_per_sum - 1) // lanes_per_sum
    balances = exploded.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"), *[packed(j) for j in range(n_sums)]
    )
    lane_mask = (1 << lane_bits) - 1
    sim = F.lit(0).cast("long")
    for i in range(bits):
        j, k = divmod(i, lanes_per_sum)
        ones = F.shiftright(F.col(f"p{j}"), k * lane_bits).bitwiseAND(
            F.lit(lane_mask)
        )
        # sign(2*ones - n) > 0  ⇔  2*ones > n
        sim = sim.bitwiseOR(
            F.when(
                ones * 2 > F.col("__n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return balances.select("id", sim.alias("simhash"))


def simhash_portable_vectorized(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """Vectorized twin of ``simhash(token_hash=<md5-prefix fold>)`` —
    the engine-portable 60-bit simhash computed entirely inside the
    Python worker: tokens hashed with hashlib.md5 (memoized per batch —
    corpora repeat tokens heavily), bit balances as one numpy matrix
    op, one (id, simhash) row out. Removes the token explode and the
    33-buffer grouped aggregation (guide §2.3: no per-token rows ever
    leave the worker); equality with the JVM path is unit-tested
    token-semantics-exactly (trim = ASCII space only, Java ``\\s`` =
    ``[ \\t\\n\\x0b\\f\\r]`` — NOT unicode whitespace — leading AND
    trailing empty tokens kept, null text drops the row, empty text is
    one empty token). Only valid for the md5-prefix token hash; use
    ``simhash`` for arbitrary Column token hashes. The id column keeps
    its Spark type, as in ``minhash_signatures``."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    shifts = np.arange(bits, dtype=np.int64)
    schema = StructType([
        StructField("id", df.schema[id_col].dataType),
        StructField("simhash", LongType()),
    ])

    def batches(it):
        for pdf in it:
            memo: dict = {}
            rows, sims = [], []
            for row, text in enumerate(pdf[text_col]):
                if text is None:
                    continue
                toks = ws.split(str(text).strip(" ").lower())
                hs = np.empty(len(toks), dtype=np.int64)
                for j, tok in enumerate(toks):
                    h = memo.get(tok)
                    if h is None:
                        h = int(
                            hashlib.md5(tok.encode("utf-8")).hexdigest()[:15],
                            16,
                        )
                        memo[tok] = h
                    hs[j] = h
                ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
                sims.append(int(
                    (((2 * ones > len(toks)).astype(np.int64)) << shifts).sum()
                ))
                rows.append(row)
            yield pd.DataFrame(
                {"id": pdf[id_col].take(rows).reset_index(drop=True),
                 "simhash": pd.Series(sims, dtype="int64")}
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema=schema)


def simhash_near_dups(
    sim_df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs by SimHash via pigeonhole segmentation: split the
    hash into ``max_hamming + 1`` bit segments — a pair within the
    Hamming budget differs in at most ``max_hamming`` segments, so at
    least one segment matches EXACTLY (guaranteed 100% recall). Bucket
    key = (segment index, segment bits); candidates self-join within
    buckets, then the exact Hamming filter (bit_count of xor) prunes
    false positives."""
    segments = max_hamming + 1
    seg_bits = bits // segments
    mask = (1 << seg_bits) - 1
    buckets = F.array(
        *[
            (
                F.shiftright(F.col("simhash"), s * seg_bits).bitwiseAND(F.lit(mask))
                + F.lit(s << 60)
            )
            for s in range(segments)
        ]
    )
    bucketed = sim_df.select("id", "simhash", F.explode(buckets).alias("bucket"))
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        _bucket_self_join(bucketed, ["bucket"], max_bucket_size)
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# exact-substring (char n-gram) dedup — the training-data staple of
# finding VERBATIM repeated spans (boilerplate, licenses, templated
# headers) across documents, independent of doc-level similarity
# (two documents can be <1% similar yet share a 500-char license block)
# ---------------------------------------------------------------------------


def char_ngram_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
    mod_sample: int | None = None,
) -> DataFrame:
    """(id, pos, gram_hash) rows — one per character ``k``-gram window
    (every ``stride`` characters), hashed with xxhash64. JVM-side: a
    ``transform`` over a position sequence hashing ``substring``
    windows, then ``posexplode``. The operators below run
    ``char_ngram_doc_counts_vectorized``; this Column form is the
    reference its window count and positions are tested against.

    Sampling levers (100-TB volume control), shared with the kernel:
    * ``stride`` decimates POSITIONALLY — intra-document window
      counting only. Two documents sharing a span sample the same
      windows only when their span alignments agree mod stride, so
      cross-document detection is NOT guaranteed at stride > 1.
    * ``mod_sample=m`` keeps only grams with hash % m == 0 —
      CONTENT-anchored (winnowing-style): every document keeps the
      same selected windows of a shared span, so detection holds with
      probability 1-(1-1/m)^(L-k+1) for an L-char span, independent of
      alignment, while the shuffle shrinks ~m×. Prefer mod_sample for
      cross-document dedup; hashing cost is unchanged (all windows are
      hashed, then filtered)."""
    n_grams = F.greatest(
        (F.length(F.col(text_col)) - F.lit(k - 1) + F.lit(stride - 1))
        / F.lit(stride),
        F.lit(0),
    ).cast("int")

    # guard: sequence(0, -1) would DESCEND for texts shorter than k
    grams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(0), n_grams - 1),
            lambda i: F.xxhash64(F.substring(F.col(text_col), i * stride + 1, k)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out = df.select(F.col(id_col).alias("id"), grams.alias("__g")).select(
        "id", F.posexplode("__g").alias("pos", "gram_hash")
    ).select("id", (F.col("pos") * stride).alias("pos"), "gram_hash")
    if mod_sample and mod_sample > 1:
        out = out.where(F.pmod(F.col("gram_hash"), F.lit(mod_sample)) == 0)
    return out


def char_ngram_doc_counts_vectorized(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
    mod_sample: int | None = None,
) -> DataFrame:
    """Per-document DISTINCT gram counts, aggregated inside the Python
    worker: (id, gram_hash, occ) with one row per distinct gram per
    document — the one gram kernel of ``repeated_substring_grams``,
    ``doc_duplication_score`` and ``contamination_check``.

    Each window is hashed by a numpy rolling polynomial hash (one
    sliding-window matrix · power-vector product per document). Hash
    values differ from ``char_ngram_hashes`` (polynomial vs xxhash64),
    but windows are CODEPOINT grams (text decoded to UTF-32 before the
    sliding view), so window count and positions match the Column
    reference for all text, not just ASCII; downstream counts are
    hash-agnostic.

    A document is whole within its batch row, so a numpy
    ``unique(return_counts=True)`` per doc completes the (id, gram)
    aggregation map-side — no per-occurrence rows cross Arrow, and a
    downstream per-(id, gram) groupBy becomes unnecessary WHEN ids are
    unique per input row (with duplicated ids, aggregate the output
    again before relying on distinctness). ``id`` keeps the input
    column's Spark type, so string doc ids work."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.types import LongType, StructField, StructType

    src = df.select(id_col, text_col)
    schema = StructType([
        StructField("id", src.schema[0].dataType),
        StructField("gram_hash", LongType()),
        StructField("occ", LongType()),
    ])

    # TWO independent 31-bit rolling hashes packed into one 62-bit
    # value: a single 31-bit hash collides at ~10^5 distinct grams
    # (birthday bound) and would miscount shared windows
    def _powers(p: int) -> "np.ndarray":
        out, acc = np.empty(k, dtype=np.int64), 1
        for j in range(k):
            out[j] = acc
            acc = (acc * p) % _MERSENNE
        return out

    powers1, powers2 = _powers(_PR), _powers(1_000_033)

    def batches(it):
        for pdf in it:
            rows, hashes, occs = [], [], []
            for row, text in enumerate(pdf[text_col]):
                if text is None:
                    continue
                # UTF-32-LE → one uint32 per CODEPOINT: windows align
                # with the Column reference's character windows on any text
                b = np.frombuffer(
                    str(text).encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if b.size < k:
                    continue
                win = sliding_window_view(b, k)[::stride].astype(np.int64)
                h = (
                    ((win @ powers1) % _MERSENNE) << 31
                ) | ((win @ powers2) % _MERSENNE)
                if mod_sample and mod_sample > 1:
                    h = h[(h % mod_sample) == 0]
                if h.size == 0:
                    continue
                uniq, cnt = np.unique(h, return_counts=True)
                rows.append(np.full(uniq.size, row, dtype=np.int64))
                hashes.append(uniq)
                occs.append(cnt.astype(np.int64))
            if rows:
                ids = pdf[id_col].take(np.concatenate(rows))
                yield pd.DataFrame(
                    {
                        "id": ids.reset_index(drop=True),
                        "gram_hash": np.concatenate(hashes),
                        "occ": np.concatenate(occs),
                    }
                )
            else:
                yield pd.DataFrame(
                    {"id": pdf[id_col].iloc[:0],
                     "gram_hash": pd.Series(dtype="int64"),
                     "occ": pd.Series(dtype="int64")}
                )

    return src.mapInPandas(batches, schema=schema)


def repeated_substring_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
    min_docs: int = 2,
    mod_sample: int | None = None,
) -> DataFrame:
    """Char ``k``-grams appearing in at least ``min_docs`` DISTINCT
    documents: (gram_hash, n_docs, n_occurrences). One groupBy on the
    gram hash over the per-doc counts (map-side partials; the shuffle
    carries one partial row per distinct gram per task) — never a
    self-join, so a gram shared by every document costs one counter,
    not O(n²) pairs."""
    g = char_ngram_doc_counts_vectorized(df, id_col, text_col, k, stride, mod_sample)
    return (
        g.groupBy("gram_hash")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def doc_duplication_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
    min_docs: int = 2,
    mod_sample: int | None = None,
    broadcast_rep_max: int = 2_000_000,
) -> DataFrame:
    """Per-document verbatim-duplication score: the fraction of a
    document's ``k``-gram windows that also occur in >= ``min_docs``
    documents (id, n_grams, shared_grams, dup_score). Training
    pipelines drop or trim documents past a score threshold. Expects
    one row per document id (see ``char_ngram_doc_counts_vectorized``).

    The per-(gram, doc) occurrence aggregate is persisted ONCE (the
    persist is what keeps the gram hashing single-pass: Exchange reuse
    does not fire across two consumers of a mapInPandas-fed aggregate,
    and re-hashing measured ~2× the total cost at 1M docs). Carrier
    counts come from a ``groupBy(gram_hash)`` whose MAP-SIDE PARTIALS
    absorb even a gram present in every document, and only the >=
    ``min_docs`` gram set joins back. The join is AQE-skew-splittable,
    unlike a window partition, which pins all carrier rows of one gram
    to a single task — a near-universal boilerplate gram would send
    O(corpus) rows through one reducer at scale.
    """
    from pyspark.storagelevel import StorageLevel

    from datapact_spark.session import persist_scoped

    # per-doc distinct counts complete the (id, gram) aggregation
    # inside the Python worker — no per-occurrence Arrow transfer and
    # no per-(gram, id) groupBy shuffle of the raw gram stream
    gi = char_ngram_doc_counts_vectorized(
        df, id_col, text_col, k, stride, mod_sample
    ).withColumnRenamed("occ", "__occ")
    # Rows of gi are distinct (gram, doc) pairs, so count == the
    # carrier-doc count. The caller's cache_scope releases the persist.
    gi = persist_scoped(gi, StorageLevel.MEMORY_AND_DISK)
    rep = (
        gi.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
        .where(F.col("__n_docs") >= min_docs)
        .select("gram_hash", F.lit(True).alias("__shared"))
    )
    # One cache-scan count picks the join strategy (gi is persisted, so
    # this populates the cache the join needs anyway): when the >=
    # min_docs gram set fits a broadcast, the big gi side never shuffles
    # for the join at all; past the cap it stays a shuffled join, which
    # AQE skew-splits.
    if broadcast_rep_max and rep.count() <= broadcast_rep_max:
        rep = F.broadcast(rep)
    scored = gi.join(rep, "gram_hash", "left").withColumn(
        "__shared", F.coalesce(F.col("__shared"), F.lit(False))
    )

    return scored.groupBy("id").agg(
        F.sum("__occ").alias("n_grams"),
        F.sum(
            F.when(F.col("__shared"), F.col("__occ")).otherwise(0)
        ).alias("shared_grams"),
    ).select(
        "id",
        "n_grams",
        "shared_grams",
        (F.col("shared_grams") / F.col("n_grams").cast("double")).alias(
            "dup_score"
        ),
    )


def contamination_check(
    train: DataFrame,
    evals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
    mod_sample: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-decontamination check: for every (training doc, eval
    doc) pair sharing >= ``min_shared`` distinct char ``k``-grams,
    report (train_id, eval_id, shared_grams, eval_grams,
    contamination_score) where the score is the fraction of the EVAL
    document's distinct grams found verbatim in that training document
    — the standard n-gram-overlap contamination test a training
    pipeline runs against held-out benchmarks before a data release.

    Plan shape (100-TB train side, benchmark-sized eval side): the
    eval side is tiny by construction (a benchmark), so its distinct
    gram set BROADCAST-joins against the RAW train gram stream — the
    training corpus is never shuffled, not even for dedup: distinct
    shared grams are counted AFTER the (map-only) join, where the only
    exchange carries matched (train_id, eval_id, gram) triples —
    bounded by the train∩eval overlap, not the corpus — with map-side
    partials collapsing repeated occurrences first. The eval-gram
    totals join on at the end (broadcast, #eval-docs rows).
    ``mod_sample`` applies the same content-anchored (winnowing-style)
    gram sampling to BOTH sides, so a shared span is still detected
    alignment-independently at ~1/m of the volume."""
    def _side(side_df):
        # per-doc distinct grams pre-aggregated in the Python worker;
        # distinctness per (id, gram) is what both consumers below want
        return char_ngram_doc_counts_vectorized(
            side_df, id_col, text_col, k, stride, mod_sample
        ).select("id", "gram_hash")

    tg = _side(train).select(F.col("id").alias("train_id"), "gram_hash")
    eg = (
        _side(evals)
        .select(F.col("id").alias("eval_id"), "gram_hash")
        .dropDuplicates(["eval_id", "gram_hash"])
    )
    eval_totals = eg.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("eval_grams")
    )
    pairs = (
        tg.join(F.broadcast(eg), "gram_hash")
        # count DISTINCT shared grams per pair without ever shuffling
        # the train side: collapse repeated occurrences first (partials
        # absorb them), then count the surviving triples
        .groupBy("train_id", "eval_id", "gram_hash")
        .agg(F.lit(1))
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .where(F.col("shared_grams") >= min_shared)
    )
    return pairs.join(F.broadcast(eval_totals), "eval_id").select(
        "train_id",
        "eval_id",
        "shared_grams",
        "eval_grams",
        (
            F.col("shared_grams") / F.col("eval_grams").cast("double")
        ).alias("contamination_score"),
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive duplicate clusters from pairwise matches: connected
    components over the (id_a, id_b) edge set, labeled by each
    component's minimum id — the step that turns MinHash/SimHash/
    substring PAIR output into keep/drop decisions (keep the label
    row, drop the rest), since near-dup relations are not transitive
    pair-by-pair (A~B, B~C but A≁C still means one cluster).

    Output: (id, cluster_id) for every id appearing in ``pairs``.

    Algorithm: iterative min-label propagation — each round every node
    takes the minimum label in its closed neighborhood; a fixpoint is
    a valid component labeling, reached in O(component diameter)
    rounds (dedup clusters are shallow: near-universal templates get
    capped upstream by the bucket caps, so diameters are small).
    Each round is one groupBy over the (undirected) edge relation plus
    a broadcast-eligible label join — no driver-side graph, edges
    never collected. The label frame is persisted per round and the
    loop stops early when a round changes nothing (one count per
    round, O(iterations) jobs); every ``checkpoint_every`` rounds the
    label lineage is truncated with ``localCheckpoint`` so the logical
    plan does not grow by one join per iteration (iterative-join plans
    otherwise blow up the analyzer long before the data hurts).
    Raises if ``max_iterations`` rounds do not converge (pathological
    diameter — raise the cap). The RETURNED frame stays persisted (its
    lineage is the whole iteration chain; unpersisting would re-run
    every round per downstream action); the caller's ``cache_scope``
    releases it."""
    from pyspark.storagelevel import StorageLevel

    from datapact_spark.session import persist_scoped

    checkpoint_every = 5

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("cluster_id")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the frame actually holding the current round's persisted data —
    # ``labels`` becomes a projection of it once the loop starts, and
    # unpersist() on a projection would NOT release the cached relation
    labels_cached = labels

    for it in range(max_iterations):
        # min neighbor label per node (neighbors' current labels)
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("cluster_id").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("min_neigh"))
            .select(F.col("src").alias("id"), "min_neigh")
        )
        # carry the previous label alongside the new one so convergence
        # is a filter over THIS frame — the old shape re-joined
        # ``updated`` against ``labels`` for the changed-count, an extra
        # ~1 s/round join job at sf0.1 that the fold removes; the count
        # action doubles as the persist materializer either way
        updated_full = labels.join(neigh, "id", "left").select(
            "id",
            F.col("cluster_id").alias("__prev"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("min_neigh"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        if (it + 1) % checkpoint_every == 0:
            # localCheckpoint already materializes to executor blocks —
            # persisting first would pin a second, never-released copy
            # of the pre-checkpoint plan
            updated_full = updated_full.localCheckpoint(eager=True)
        else:
            # scoped: the converged round's frame is the one returned
            updated_full = persist_scoped(
                updated_full, StorageLevel.MEMORY_AND_DISK
            )
        changed = updated_full.where(
            F.col("cluster_id") != F.col("__prev")
        ).count()
        labels_cached.unpersist()
        labels_cached = updated_full
        labels = updated_full.select("id", "cluster_id")
        if changed == 0:
            edges.unpersist()
            return labels
    edges.unpersist()
    labels_cached.unpersist()
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iterations} rounds — "
        "component diameter exceeds the cap; raise max_iterations"
    )


def apply_dedup(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    broadcast_drop_max: int = 2_000_000,
) -> DataFrame:
    """Materialize dedup decisions: keep every row whose id is either
    unmatched (no duplicate found) or its cluster's label (the
    component-minimum id from ``dup_clusters``).

    The drop set is usually small relative to the corpus, but on a
    heavily-duplicated crawl it can be billions of ids — a hard
    ``F.broadcast`` hint there OOMs the driver instead of degrading to a
    shuffled anti-join. So the hint is gated on a counted threshold
    (same pattern as ``doc_duplication_score``'s ``broadcast_rep_max``):
    below it the corpus never shuffles; above it AQE picks the join
    (set ``broadcast_drop_max=0`` to always let AQE decide)."""
    drop = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    if broadcast_drop_max and drop.count() <= broadcast_drop_max:
        drop = F.broadcast(drop)
    return df.join(drop, id_col, "left_anti")


def boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Find boilerplate LINES — exact lines (license headers, generated
    banners, framework imports) carried verbatim by >= ``min_docs``
    distinct documents. The Stack-style line-level dedup signal for
    source-code corpora.

    Returns ``(line_hash, line, n_docs)``. Blank lines (whitespace-only)
    are never boilerplate. Scale shape: documents are line-exploded
    map-side, then ONE shuffle on the 128-bit md5 of the line (never the
    raw line bytes — a license header is ~1 KB, its hash is 32 bytes);
    count_distinct(doc) does per-partition partial dedup so a universal
    line does not funnel raw rows to one reducer.
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("__idx", "line"),
    ).where(F.trim("line") != "")
    return (
        lines.groupBy(F.md5("line").alias("line_hash"))
        .agg(
            F.first("line").alias("line"),
            F.count_distinct("__id").alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Remove boilerplate lines — ``boilerplate_lines(df, ...,
    min_docs)`` — from every document and reconstruct the cleaned text
    (line order preserved, blank lines kept).

    Returns ``(id, n_lines, n_boiler, cleaned_text)``; documents whose
    every line is boilerplate survive with ``cleaned_text = ''``, and
    null-text documents pass through with nulls.

    Eager: the broadcast gate below runs one ``count()`` job over the
    boilerplate line aggregation when this function is called, not
    when the result is materialized. The hash set it counts is
    persisted for the join and released by the caller's
    ``cache_scope``.

    Scale shape: explode -> left_anti hash-join against the boilerplate
    hash set (broadcast when small) -> one groupBy(id) rebuild via
    sort_array(collect_list(struct(idx, line))). The rebuild shuffles
    (id, line) pairs once; no window over the skewed line key.
    """
    from pyspark.storagelevel import StorageLevel
    from datapact_spark.session import persist_scoped

    # Counted broadcast gate (same pattern as doc_duplication_score's
    # broadcast_rep_max): the hash set is 32 B/row, so up to ~2M
    # boilerplate lines broadcast in ~64 MB and the exploded line
    # stream — (id, idx, line) for the WHOLE corpus — never shuffles
    # for the anti-join. Past the cap, AQE keeps the shuffled join.
    # The persist keeps the boiler derivation single-pass (the count
    # would otherwise recompute the full line aggregation the join
    # needs again).
    hashes = persist_scoped(
        boilerplate_lines(df, id_col, text_col, min_docs).select("line_hash"),
        StorageLevel.MEMORY_AND_DISK,
    )
    if hashes.count() <= 2_000_000:
        hashes = F.broadcast(hashes)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("__idx", "line"),
    )
    kept = lines.join(
        hashes.withColumnRenamed("line_hash", "__bh"),
        F.md5(lines["line"]) == F.col("__bh"),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    # n_lines map-side from the split length (== exploded line count:
    # split('', -1) is [''], null text stays null) — the former
    # explode + groupBy(id) + extra join re-derived this with a full
    # shuffle of the line stream
    totals = df.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(),
            F.size(F.split(F.col(text_col), "\n", -1)).cast("long"),
        ).alias("n_lines"),
    )
    return (
        totals
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            (F.col("n_lines") - F.coalesce("__kept", F.lit(0))).alias("n_boiler"),
            F.when(
                F.col("n_lines").isNotNull(),
                F.coalesce("cleaned_text", F.lit("")),
            ).alias("cleaned_text"),
        )
    )
