"""Cache lifecycle hygiene: every relation an operator persists is owned
by the innermost ``cache_scope`` (or, outside any scope, drained by the
``release_cached`` shim), so no query pins executor storage for the
rest of the session (the r4 ``dup_clusters`` leak class). The oracle
sweep in ``test_oracle_parity.py`` checks the census for every query.
"""

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from datapact_spark.session import cache_scope, persist_scoped, release_cached

SF_DIR = "/root/testdata/sf0.001"


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _pinned(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_nested_scope_releases_only_its_own(spark):
    with cache_scope():
        outer = persist_scoped(spark.range(101))
        with cache_scope():
            inner = persist_scoped(spark.range(102))
        assert not _pinned(inner)
        assert _pinned(outer)
    assert not _pinned(outer)


def test_scope_releases_on_exception(spark):
    with pytest.raises(RuntimeError, match="mid-scope"):
        with cache_scope():
            df = persist_scoped(spark.range(201))
            df.count()
            raise RuntimeError("mid-scope")
    assert not _pinned(df)


def test_scopes_in_pool_threads_are_isolated(spark):
    """The engine's case: tasks open scopes in pool threads at the same
    time; closing one must not release the other's relations."""
    a_persisted, b_closed = threading.Event(), threading.Event()

    def task_a():
        with cache_scope():
            df = persist_scoped(spark.range(301))
            a_persisted.set()
            assert b_closed.wait(60)
            return df, _pinned(df)

    def task_b():
        assert a_persisted.wait(60)
        with cache_scope():
            df = persist_scoped(spark.range(302))
        b_closed.set()
        return df

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fb = pool.submit(task_a), pool.submit(task_b)
        a_df, a_pinned_after_b = fa.result()
        b_df = fb.result()
    assert a_pinned_after_b, "closing b's scope released a's relation"
    assert not _pinned(a_df) and not _pinned(b_df)


class _FakeFrame:
    """Stands in for a DataFrame: counts its unpersist calls."""

    def __init__(self):
        self.released = 0

    def persist(self, level):
        return self

    def unpersist(self):
        self.released += 1


def test_unscoped_persists_survive_concurrent_drains():
    """Pool threads persist outside any scope while another thread
    drains the shim: every relation is released exactly once (a lost
    update would leave one unreleased or uncounted)."""
    release_cached()
    n_threads, per_thread = 8, 20_000
    stop = threading.Event()
    drained: list[int] = []

    def persist_many():
        return [persist_scoped(_FakeFrame()) for _ in range(per_thread)]

    def drain():
        while not stop.is_set():
            drained.append(release_cached())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    drainer = threading.Thread(target=drain)
    drainer.start()
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futures = [pool.submit(persist_many) for _ in range(n_threads)]
            frames = [df for f in futures for df in f.result(timeout=120)]
    finally:
        stop.set()
        drainer.join(60)
        sys.setswitchinterval(old)
    assert not drainer.is_alive()
    drained.append(release_cached())
    assert sum(drained) == n_threads * per_thread
    assert all(df.released == 1 for df in frames)


def test_shim_drains_only_unscoped_persists(spark):
    release_cached()  # leftovers of earlier unscoped callers
    loose = persist_scoped(spark.range(401))
    with cache_scope():
        owned = persist_scoped(spark.range(402))
        assert release_cached() == 1
        assert not _pinned(loose)
        assert _pinned(owned)
    assert release_cached() == 0


@pytest.mark.parametrize("name", ["tfidf_terms", "corpus_pipeline"])
def test_driver_queries_release_their_persists(spark, name):
    """``bench.py``'s path: no scope, materialize, then
    ``release_cached(df)`` — the persistent-RDD census returns to its
    pre-query level."""
    import __spark_entry__ as entry_mod

    release_cached()
    before = _n_cached_rdds(spark)
    df = entry_mod.queries_all()[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert _n_cached_rdds(spark) > before, f"{name} should persist"
    assert release_cached(df) >= 1
    assert _n_cached_rdds(spark) <= before, (
        f"{name} left {_n_cached_rdds(spark) - before} relations pinned"
    )
