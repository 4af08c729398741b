"""The package's one persist/release lifecycle.

Every frame the package persists goes through ``persist(df)``: one storage
level (``MEMORY_AND_DISK_DESER`` — an oversized stage spills to local disk
instead of OOMing, and the cached read path pays no deserialization) and
one registry. No other module calls ``.persist``, ``.cache`` or
``.unpersist``.

A persisted frame belongs to the innermost scope open on the current thread
or task (a ``contextvars`` variable, so nested blocks and other threads keep
their own scopes); outside any scope it joins the session list. Two scope
lifetimes cover the traffic:

* ``scoped_caches()`` releases its frames at block exit. Streaming
  micro-batches and operator temporaries whose results are collected inside
  the block (assessment's pair sets) use it.
* ``call_caches()`` keeps its frames until the NEXT ``call_caches()`` block
  opens. ``link_orgs`` runs under it: it returns a lazy frame that still
  reads its persisted stages (prepared sides, candidate and scored
  barriers, directory matches) after it returns, so a loop of calls holds
  at most one call's working set — also when a call raised.

``release_caches()`` releases the session list and the last call's frames.

Results never depend on a release: Spark recomputes a released frame's
lineage on the next action, so a release only gives back the reuse
speedup. Registry mutations are lock-guarded, but the call lifetime
assumes one linkage workload per session: a concurrent ``release_caches()``
or a ``link_orgs`` call on another thread may release frames a running
call still reuses. Streaming ``foreachBatch`` runs one batch at a time per
query, which is the intended usage pattern.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
_SESSION: list[DataFrame] = []  # persisted outside any scope
_LAST_CALL: list[DataFrame] = []  # the latest call_caches() block's frames
_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("linkorgs_cache_scope", default=None)


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at the package's storage level and track it in the
    current scope (the session list outside any scope)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    scope = _SCOPE.get()
    with _LOCK:
        (_SESSION if scope is None else scope).append(df)
    return df


def _release(frames) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist(False)
            n += 1
        except Exception:
            # best-effort release: the frame may belong to a stopped session
            pass
    return n


def _take(frames: list[DataFrame]) -> list[DataFrame]:
    with _LOCK:
        taken = frames[:]
        frames.clear()
    return taken


def release_caches() -> int:
    """Unpersist every tracked frame outside an open ``scoped_caches()``
    block — the session list and the last ``link_orgs`` call's stages —
    and return the count."""
    return _release(_take(_SESSION) + _take(_LAST_CALL))


@contextmanager
def scoped_caches():
    """Release every frame persisted inside the block when it exits.

    The leak guard for unbounded loops: a streaming query runs its batch
    operators once per micro-batch, and each batch persists several
    frames — without the scope a long-running stream pins them forever.
    Outer scopes and the session list are untouched.
    """
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        _release(_take(frames))


@contextmanager
def call_caches():
    """Release the previous block's frames, then keep the frames persisted
    inside this block until the next block opens (or ``release_caches()``).

    For calls that return lazy frames reading their own persisted stages;
    usable as a decorator (``@call_caches()``)."""
    _release(_take(_LAST_CALL))
    token = _SCOPE.set(_LAST_CALL)
    try:
        yield
    finally:
        _SCOPE.reset(token)
