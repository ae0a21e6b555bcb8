"""Session-scoped caches: built artifacts, pinned relations, probe memos.

One contract covers every kind of entry here.

- ``artifact(spark, name, key, build)`` returns ``build(workdir)``,
  memoized per (session applicationId, name, key). ``workdir`` is a
  fresh path under the session's root directory that nothing else
  uses; a build that writes files writes them there (Spark's writers
  create it), a build that writes nothing ignores it. Query vectors,
  prepared plans, persisted stores and loaded index handles are all
  artifacts. ``read_parquet`` is the artifact ``spark.read.parquet``:
  the read runs a footer/schema job at call time, and the same
  DataFrame back keeps the semantic lookups below cheap.
- ``materialize(df)`` persists and eagerly counts a relation consumed
  by several plan subtrees (Spark's exchange reuse misses consumers
  in different stages). ``probe_memo(df, extra_key, compute)``
  memoizes a bounded scalar probe. Both look entries up by plan
  semantics (``semanticHash`` + ``sameSemantics``), because repeated
  operator calls build fresh DataFrames with identical plans, and both
  are small LRUs: dropping an entry a caller still holds only costs a
  recompute.
- Every entry belongs to the session that made it. The first call
  from another session evicts them all: pins are unpersisted, entries
  dropped, and the dead session's root directory is deleted.
- ``invalidate()`` forgets every entry and unpersists every pin. Store
  writers call it, because two reads of a rewritten parquet root are
  semantically equal. It never deletes a directory: a build that is
  still running may hold a workdir it got earlier. Session roots are
  deleted on dead-session eviction or at interpreter exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = ["artifact", "invalidate", "materialize", "probe_memo", "read_parquet"]

# streaming foreachBatch writers call invalidate() from py4j callback
# threads, so every structural change to the registries holds _LOCK
# (never across a build, which may itself call invalidate())
_LOCK = threading.Lock()
_ARTIFACTS: dict[tuple[str | None, str, object], object] = {}
_ROOTS: dict[str | None, str] = {}
_WORKDIR_SEQ = itertools.count()

# insertion-ordered: index 0 is the LRU victim
_PINNED: list[tuple[str | None, int | None, DataFrame]] = []
_PINNED_MAX = 16
_PROBE: list[tuple[str | None, int, object, DataFrame, object]] = []
_PROBE_MAX = 64


def _app_id(spark) -> str | None:
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return None


def _unpersist(frames) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:  # owning session already stopped — nothing to free
            pass


def _evict_dead(app: str | None) -> None:
    """Drop every entry owned by a session other than ``app``, and
    delete those sessions' root directories."""
    with _LOCK:
        for k in [k for k in _ARTIFACTS if k[0] != app]:
            del _ARTIFACTS[k]
        dead_pins = [e[2] for e in _PINNED if e[0] != app]
        _PINNED[:] = [e for e in _PINNED if e[0] == app]
        _PROBE[:] = [e for e in _PROBE if e[0] == app]
        dead_roots = [_ROOTS.pop(a) for a in [a for a in _ROOTS if a != app]]
    _unpersist(dead_pins)
    for root in dead_roots:
        shutil.rmtree(root, ignore_errors=True)


def _remove_roots() -> None:
    with _LOCK:
        roots = list(_ROOTS.values())
        _ROOTS.clear()
    for root in roots:
        shutil.rmtree(root, ignore_errors=True)


atexit.register(_remove_roots)


def artifact(spark, name: str, key, build):
    """Return ``build(workdir)`` memoized per (session, ``name``, ``key``)."""
    app = _app_id(spark)
    _evict_dead(app)
    k = (app, name, key)
    with _LOCK:
        if k in _ARTIFACTS:
            return _ARTIFACTS[k]
        root = _ROOTS.get(app)
        if root is None:
            root = _ROOTS[app] = tempfile.mkdtemp(prefix="acorn_session_")
        workdir = os.path.join(root, f"{name}_{next(_WORKDIR_SEQ)}")
    value = build(workdir)
    with _LOCK:
        _ARTIFACTS[k] = value
    return value


def read_parquet(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` memoized per (session, path)."""
    return artifact(spark, "read_parquet", path, lambda _: spark.read.parquet(path))


def invalidate() -> None:
    """Forget every artifact, probe memo and read, and unpersist every
    pinned relation. Directories stay until their session is evicted."""
    with _LOCK:
        _ARTIFACTS.clear()
        _PROBE.clear()
        pins = [e[2] for e in _PINNED]
        _PINNED.clear()
    _unpersist(pins)


def probe_memo(df: DataFrame, extra_key, compute):
    """Return ``compute()`` memoized per (session, plan semantics,
    extra_key). The value must be a pure function of the plan's data."""
    app = _app_id(df.sparkSession)
    _evict_dead(app)
    try:
        h = df.semanticHash()
    except Exception:
        return compute()
    with _LOCK:
        for i, (pa, ph, pk, pdf, val) in enumerate(_PROBE):
            if ph == h and pk == extra_key and df.sameSemantics(pdf):
                _PROBE.append(_PROBE.pop(i))  # LRU refresh
                return val
    val = compute()
    with _LOCK:
        _PROBE.append((app, h, extra_key, df, val))
        del _PROBE[:-_PROBE_MAX]
    return val


def materialize(df: DataFrame) -> DataFrame:
    """Persist + eagerly compute ``df`` (the eager count matters: lazy
    persistence lets consumer stages race and each compute the subtree
    anyway). Returns the persisted frame — the ALREADY-PINNED one when
    a semantically identical plan is pinned (LRU-refreshed, no
    recompute)."""
    app = _app_id(df.sparkSession)
    _evict_dead(app)
    try:
        h = df.semanticHash()
    except Exception:  # plan not hashable (e.g. unresolved) — pin fresh
        h = None
    if h is not None:
        with _LOCK:
            for i, (pa, ph, pdf) in enumerate(_PINNED):
                if ph == h and df.sameSemantics(pdf):
                    _PINNED.append(_PINNED.pop(i))  # LRU refresh
                    return pdf
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    with _LOCK:
        _PINNED.append((app, h, df))
        victims = [e[2] for e in _PINNED[:-_PINNED_MAX]]
        del _PINNED[:-_PINNED_MAX]
    _unpersist(victims)
    return df
