"""Session artifact registry (operators/_cache.py): what invalidate()
forgets, what it keeps on disk, and when a session's directory goes."""

from __future__ import annotations

import os

from acorn_hybrid_vector_search_spark.operators import _cache

SF = "/root/testdata/sf0.001"


def test_dead_session_directory_removed_on_eviction(spark, tmp_path):
    """An entry owned by a dead applicationId is dropped, and its
    session root deleted, by the next artifact call of a live session."""
    root = tmp_path / "dead_root"
    (root / "store").mkdir(parents=True)
    (root / "store" / "part-0.parquet").write_text("x")
    _cache._ROOTS["app-dead-777"] = str(root)
    _cache._ARTIFACTS[("app-dead-777", "store", SF)] = str(root / "store")

    _cache.artifact(spark, "store", SF, lambda workdir: workdir)

    assert not root.exists()
    assert "app-dead-777" not in _cache._ROOTS
    assert all(k[0] != "app-dead-777" for k in _cache._ARTIFACTS)


def test_invalidate_forgets_entries_but_keeps_directories(spark):
    """invalidate() drops the entry, so the next call rebuilds into a
    fresh workdir; the old directory stays, because a caller (or a build
    still running) may hold its path."""
    built = []

    def build(workdir):
        os.makedirs(workdir)
        built.append(workdir)
        return workdir

    first = _cache.artifact(spark, "invalidate_probe", 0, build)
    assert _cache.artifact(spark, "invalidate_probe", 0, build) == first
    _cache.invalidate()
    second = _cache.artifact(spark, "invalidate_probe", 0, build)
    assert built == [first, second] and second != first
    assert os.path.isdir(first)


def test_ivf_batch_pin_survives_invalidate(spark):
    """The IVF batch index is pinned at build; after invalidate() the next
    search must rebuild and re-pin it, so its executed plan still scans
    the in-memory relation instead of re-running the assignment UDF."""
    import __spark_entry__ as m

    m._q_ivf_exact_batch_topk(spark, SF)
    _cache.invalidate()
    df = m._q_ivf_exact_batch_topk(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:2000]


def test_invalidate_makes_shared_index_rebuild(spark, monkeypatch):
    """A first execution after invalidate() pays its own build: the IVF
    index ivf_exact_batch_topk built is not served to ivf_conj_topk."""
    import __spark_entry__ as m
    from acorn_hybrid_vector_search_spark.operators import ann

    m._q_ivf_exact_batch_topk(spark, SF)
    builds = []
    real = ann.ivf_build

    def counting_build(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(ann, "ivf_build", counting_build)
    _cache.invalidate()
    m._q_ivf_conj_topk(spark, SF).collect()
    assert builds == [1]


def test_registry_survives_concurrent_invalidate(spark):
    """Streaming writers call invalidate() from callback threads while
    other threads look artifacts up: no call may fail or see another
    key's value."""
    import sys
    import threading

    errors = []

    def worker(w):
        try:
            for i in range(200):
                key = (w, i % 7)
                got = _cache.artifact(spark, "stress", key, lambda _, key=key: key)
                assert got == key, (got, key)
                if i % 13 == 0:
                    _cache.invalidate()
        except Exception as e:  # reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
