"""Mirror of the driver's correctness gate: every ``queries()`` entry is
run in Spark and its ``oracle_sql()`` twin in DuckDB on the same parquet
tables; row counts, column names, and order-insensitive canonical values
must match exactly.
"""

import decimal
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from datapact_spark.session import cache_scope

SF_DIR = os.environ.get("DATAPACT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Sweep every oracle-backed query: the 50-entry driver board plus any
# off-board query that is the sole test of some product behaviour.
ORACLES = entry_mod.oracle_sql_all()
QUERIES = entry_mod.queries_all()
ORACLE_KEYS = sorted(ORACLES.keys())


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, ddb, name):
    # the sweep doubles as the leak test for the whole surface: every
    # relation the query persists must be released with its scope
    before = _n_cached_rdds(spark)
    with cache_scope():
        sdf = QUERIES[name](spark, SF_DIR)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    pinned = _n_cached_rdds(spark) - before

    res = ddb.execute(ORACLES[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    sc = _rows_canon(s_cols, s_rows)
    dc = _rows_canon(d_cols, d_rows)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first value mismatch: {mismatches[:3]}"
    assert pinned <= 0, f"{name} left {pinned} relations pinned"


def test_all_queries_have_oracle_or_are_rows_only():
    # r3: every query is oracle-backed — the LSH family got exact
    # ground-truth oracles (all-pairs Jaccard / Hamming over a portable
    # simhash / brute-force cosine) and the PSI Σ an ordered-fold oracle
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set(), f"unexpected rows-only: {rows_only}"


def test_active_board_fits_driver_cap():
    """The driver verifies at most 50 queries() entries per round (r4
    silently dropped entries past #50): the active board must fit, and
    the board and the off-board queries must partition the swept
    surface with matching oracle sets."""
    active_q = entry_mod.queries()
    active_o = entry_mod.oracle_sql()
    off_board_q = set(QUERIES) - set(active_q)
    off_board_o = set(ORACLES) - set(active_o)
    assert len(active_q) <= 50
    assert set(active_o) == set(active_q)
    # the sweep runs the board's own functions and oracles; off-board
    # entries are disjoint from the board by construction
    assert all(QUERIES[k] is fn for k, fn in active_q.items())
    assert all(ORACLES[k] == sql for k, sql in active_o.items())
    assert off_board_o == off_board_q


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 1
    assert {"result_payload", "overall_validation_passed"} <= set(df.columns)


def test_minhash_dedup_rows_only(spark):
    df = QUERIES["minhash_dedup"](spark, SF_DIR)
    rows = df.collect()
    # every perturbed doc (doc_id % 11 == 0, re-keyed +1e6) must pair
    # with its original at Jaccard ≥ 0.5
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    expected_ids = [r["doc_id"] for r in docs.where("doc_id % 11 = 0").collect()]
    found = sum(1 for i in expected_ids if (i, i + 1000000) in pairs)
    assert found >= len(expected_ids) * 0.9, f"recall {found}/{len(expected_ids)}"


def test_simhash_pairs_rows_only(spark):
    rows = QUERIES["simhash_pairs"](spark, SF_DIR).collect()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    expected_ids = [r["doc_id"] for r in docs.where("doc_id % 13 = 0").collect()]
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    found = sum(1 for i in expected_ids if (i, i + 1000000) in pairs)
    assert found >= len(expected_ids) * 0.7, f"simhash recall {found}/{len(expected_ids)}"


def test_lsh_topk_recall_vs_bruteforce(spark):
    lsh = QUERIES["lsh_topk"](spark, SF_DIR).collect()
    bf = QUERIES["ann_bruteforce"](spark, SF_DIR).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    lsh_sets = {}
    for r in lsh:
        lsh_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & lsh_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6, f"LSH mean recall {recalls}"


def test_drift_psi_value_positive(spark):
    row = QUERIES["drift_psi_value"](spark, SF_DIR).collect()[0]
    assert row["drift_psi_l_extendedprice"] > 0


def test_multimodal_features_deterministic(spark):
    """The stub decode: feature i is the i-th little-endian u32 of the
    sha256 of the payload, mod 1000, over 1000; equal on every run."""
    import hashlib

    import numpy as np

    from datapact_spark.operators.multimodal import (
        extract_features,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n=96)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    a = {r["media_id"]: tuple(r) for r in extract_features(media, feature_dim=8).collect()}
    b = {r["media_id"]: tuple(r) for r in extract_features(media, feature_dim=8).collect()}
    assert a == b and len(a) == 96
    assert {r[1] for r in a.values()} == {"image", "audio", "video"}
    for mid, (_, _, n_bytes, feature) in a.items():
        u32 = np.frombuffer(hashlib.sha256(payloads[mid]).digest(), dtype=np.uint32)
        assert n_bytes == len(payloads[mid]) == 64
        assert list(feature) == list((u32 % 1000).astype(np.float32) / 1000.0)


def test_embedding_near_dups_finds_injected(spark):
    rows = QUERIES["embedding_near_dups"](spark, SF_DIR).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    expected = [r["vec_id"] for r in emb.where("vec_id % 17 = 0").collect()]
    found = sum(1 for i in expected if (i, i + 100000) in pairs)
    # exact duplicates share every LSH bucket -> recall must be total
    assert found == len(expected), f"{found}/{len(expected)}"


def test_ivf_topk_recall_at_production_params(spark):
    """nprobe << nlist: each query scans ~nprobe/nlist of the corpus
    and must still recover most true neighbors."""
    from datapact_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where("vec_id < 10")
    # this corpus is near-isotropic random vectors (the hardest case for
    # a coarse quantizer — no cluster structure), so a half-scan probe
    # is needed for solid recall; clustered real embeddings do far
    # better at much smaller nprobe/nlist
    bf = brute_force_topk(emb, queries, k=5).collect()
    ivf = ivf_topk(emb, queries, k=5, nlist=16, nprobe=8, iters=2).collect()
    bf_sets, ivf_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf:
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & ivf_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6, f"IVF mean recall {recalls}"


def test_ivf_topk_deterministic(spark):
    from datapact_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where("vec_id < 3")
    a = sorted(map(tuple, ivf_topk(emb, queries, k=5, nlist=8, nprobe=2).collect()))
    b = sorted(map(tuple, ivf_topk(emb, queries, k=5, nlist=8, nprobe=2).collect()))
    assert a == b


def test_ivf_index_store_reuse(spark, tmp_path):
    """First indexed call builds + persists (centroids, assignments);
    the second serves from the store: bitwise-identical results to the
    unindexed operator, NO training pass in the plan (no
    applyInPandas/FlatMapGroupsInPandas — Lloyd never runs), and the
    corpus side reads the stored partitioned parquet, not the source."""
    from datapact_spark.ledger import IvfIndexStore
    from datapact_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where("vec_id < 3")
    store = IvfIndexStore(spark, str(tmp_path / "res"))
    kw = dict(k=5, nlist=8, nprobe=2, iters=1)

    direct = sorted(map(tuple, ivf_topk(emb, queries, **kw).collect()))
    first = ivf_topk(
        emb, queries, index_store=store, index_name="emb", **kw
    )
    assert sorted(map(tuple, first.collect())) == direct
    assert store.exists("emb")

    second = ivf_topk(
        emb, queries, index_store=store, index_name="emb", **kw
    )
    assert sorted(map(tuple, second.collect())) == direct
    plan = second._jdf.queryExecution().executedPlan().toString()
    # no Lloyd training stage and no corpus assignment GEMM: the only
    # Python eval left is the tiny query-probe UDF
    assert "FlatMapGroupsInPandas" not in plan
    # the stored assignment table is scanned directly (a FileScan whose
    # read columns ARE the index schema) instead of recomputing
    # neighbor assignments from the source embeddings
    assert "FileScan parquet [neighbor_id" in plan, plan


def test_ivf_index_store_partition_pruning(spark, tmp_path):
    """Reading the stored corpus filtered to a probed list must scan
    only that list's partition (partition pruning on list_id)."""
    from datapact_spark.ledger import IvfIndexStore
    from datapact_spark.operators.similarity import (
        ivf_assignments,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    store = IvfIndexStore(spark, str(tmp_path / "res"))
    cents = train_ivf_centroids(emb, nlist=8, iters=0)
    store.write("p", cents, ivf_assignments(emb, cents))
    _, assigned = store.read("p")
    plan = assigned.where("list_id = 3")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters: [isnotnull(list_id" in plan or (
        "PartitionFilters: [(list_id" in plan
    ), plan


def test_ivf_index_freshness_probe(spark, tmp_path):
    """check_freshness=True must detect a mutated corpus (stored
    fingerprint = row count + commutative id hash) and rebuild instead
    of serving stale neighbors; an unchanged corpus must NOT rebuild;
    the default stays probe-free (no meta needed to serve)."""
    from datapact_spark.ledger import IvfIndexStore
    from datapact_spark.operators.similarity import corpus_fingerprint, ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where("vec_id < 3")
    store = IvfIndexStore(spark, str(tmp_path / "res"))
    kw = dict(k=5, nlist=8, nprobe=8, iters=1)

    ivf_topk(emb, queries, index_store=store, index_name="f", **kw).collect()
    meta = store.read_meta("f")
    assert meta is not None
    assert (meta["n_rows"], meta["id_hash"]) == corpus_fingerprint(emb)

    # unchanged corpus + freshness check: serves, does not rebuild
    mtime_before = os.path.getmtime(
        os.path.join(str(tmp_path / "res"), "ann_index", "f", "meta.json")
    )
    ivf_topk(
        emb, queries, index_store=store, index_name="f",
        check_freshness=True, **kw,
    ).collect()
    assert os.path.getmtime(
        os.path.join(str(tmp_path / "res"), "ann_index", "f", "meta.json")
    ) == mtime_before

    # mutate the corpus (drop half the rows): WITHOUT the probe the
    # stale index still serves dropped ids as neighbors; WITH it the
    # index is rebuilt and no dropped id appears
    half = emb.where("vec_id % 2 = 0")
    stale = ivf_topk(half, queries, index_store=store, index_name="f", **kw)
    assert any(r["neighbor_id"] % 2 == 1 for r in stale.collect())
    fresh = ivf_topk(
        half, queries, index_store=store, index_name="f",
        check_freshness=True, **kw,
    )
    rows = fresh.collect()
    assert rows and all(r["neighbor_id"] % 2 == 0 for r in rows)
    m2 = store.read_meta("f")
    assert (m2["n_rows"], m2["id_hash"]) == corpus_fingerprint(half)

    # an index written before meta existed: probe treats it as unknown
    # and rebuilds rather than trusting it
    os.remove(os.path.join(str(tmp_path / "res"), "ann_index", "f", "meta.json"))
    ivf_topk(
        half, queries, index_store=store, index_name="f",
        check_freshness=True, **kw,
    ).collect()
    assert store.read_meta("f") is not None


def test_ivf_auto_nlist(spark):
    """nlist=None derives sqrt(n) (clamped) and the query still runs;
    the rule itself is unit-checked at the measured anchor points."""
    from datapact_spark.operators.similarity import derive_ivf_nlist, ivf_topk

    assert derive_ivf_nlist(1_000_000) == 1000
    assert derive_ivf_nlist(10) == 8        # floor
    assert derive_ivf_nlist(1 << 40) == 65_536  # cap bounds the collect
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = ivf_topk(emb, emb.where("vec_id < 2"), k=3, nlist=None, nprobe=4)
    assert out.count() > 0
