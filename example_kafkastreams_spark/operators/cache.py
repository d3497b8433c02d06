"""The one persist lifecycle: build memos own their frames, everything
else is tracked until the next sketch release.

Operators persist an intermediate stage (signatures, bucket tables,
funnel stages) when it fans out into several consumers of the same
query. They return LAZY DataFrames, so they cannot unpersist before
the caller's terminal action — and a long-lived session (the bench's
50 slots in one JVM, a notebook) would otherwise accumulate one cached
stage per invocation for its whole lifetime.

``persist_tracked`` is the only persist an operator or slot calls. It
never asks the caller for a lifetime; it reads it from context:

* Outside a build, the frame is TRACKED and ``release_sketch_caches``
  unpersists it (the caller's action is done by then).
* Inside a ``@build_memo`` build, the frame is OWNED by the memo: the
  memo hands the same DataFrame to every later invocation (the bench's
  branch timings filter it once per branch), so a sketch release must
  not de-materialize it. ``release_build_memos`` clears every memo and
  unpersists every owned frame — the bench calls it between slots.

``build_memo`` keys a slot builder on (applicationId, sf_dir), so a
restarted session never serves plans bound to a dead context, and
marks the build active in a ``ContextVar``. Driver threads launched
inside a build (``overlap.build_overlapped``, q63's delta pool) run in
a copy of the launching context, so their persists are owned too.
Releasing is semantics-free: a dropped cache is recomputed from
lineage, so a rebuilt slot returns the same rows.

``persist_pinned`` is the owned-persist primitive ``persist_tracked``
routes to inside a build; no other engine module calls it.

The on-disk index-dir memos (``_Q46_IDX_CACHE``, ``_Q55_IDX_CACHE``,
``_Q55_MS_IDX_CACHE``) hold written files, not JVM frames, so they stay
outside this lifecycle.
"""

from __future__ import annotations

import contextvars
import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_SKETCH_CACHES: list[DataFrame] = []
_BUILD_CACHES: list[DataFrame] = []
_BUILD_MEMOS: list[dict] = []
_IN_BUILD: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "in_build", default=False
)


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    if _IN_BUILD.get():
        return persist_pinned(df, level)
    df = df.persist(level)
    _SKETCH_CACHES.append(df)
    return df


def persist_pinned(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist a frame owned by the build memos (released only by
    ``release_build_memos``)."""
    df = df.persist(level)
    _BUILD_CACHES.append(df)
    return df


def register_build_memo(memo: dict) -> dict:
    """Register a memo dict to be cleared by ``release_build_memos``."""
    _BUILD_MEMOS.append(memo)
    return memo


def build_memo(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize a slot builder per (session, corpus); every persist made
    while it builds is owned by the memo."""
    memo = register_build_memo({})

    @functools.wraps(fn)
    def memoized(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (spark.sparkContext.applicationId, sf_dir)
        cached = memo.get(key)
        if cached is None:
            token = _IN_BUILD.set(True)
            try:
                cached = fn(spark, sf_dir)
            finally:
                _IN_BUILD.reset(token)
            memo[key] = cached
        return cached

    return memoized


def _unpersist_all(frames: list[DataFrame]) -> int:
    n = len(frames)
    while frames:
        df = frames.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def release_sketch_caches() -> int:
    """Unpersist every tracked cached stage; returns count."""
    return _unpersist_all(_SKETCH_CACHES)


def release_build_memos() -> int:
    """Clear every build memo and unpersist the frames they own;
    returns the number of frames released."""
    for memo in _BUILD_MEMOS:
        memo.clear()
    return _unpersist_all(_BUILD_CACHES)
