"""Session relation store: the one place a relation outlives the call
that made it.

``keep(df, big=False)`` persists a relation several plan references scan.
The CacheManager substitutes one shared InMemoryRelation into every plan
whose canonical form matches, so a tokenization or verify join runs once,
even across queries (shingles: 8.1 s -> 3.5 s cold at sf0.1; an A/B that
checkpointed all 13 pair-relation sites instead lost that sharing and cost
the suite ~12 s). A lazy localCheckpoint does not share: concurrent branch
stages race before its blocks land. Cache entries are not free either:
every compile matches against every cached tree (keeping every
verified-pairs plan slowed the rest of the suite by ~15%), so only
multi-reference relations are kept. Storage level:

- ``big=False`` (pairs, signatures, UDF outputs, pid-pinned ranks):
  MEMORY_AND_DISK, so an evicted block round-trips local disk instead of
  re-running an expensive join, UDF or exchange.
- ``big=True`` (corpus x shingle EXPLODED relations, ~50x their parquet
  source): MEMORY_ONLY, so an evicted block is recomputed. At sf10 the
  shingle relation exceeds the storage region and MEMORY_AND_DISK's warm
  re-read cost 297 s vs 84 s for a cold recompute. At the 100 TB design
  point callers pass ``cache_shingles=False`` or dedup in date slices.

``truncate(df)`` cuts lineage with an EAGER localCheckpoint, for a frame
an iterative driver loops over (PageRank rounds, the IVF assignment):
every round's compile canonicalizes the frame's FULL lineage against the
CacheManager (~0.5 s/round once the verify-prune subtree grew; PageRank
warm 3.3 -> 8.7 s). The leaf scan makes per-round compile O(1) in lineage
depth; eager because a lazy checkpoint under the first round's concurrent
stages races. Blocks are reference-managed by the ContextCleaner. The
call EXECUTES its input at once, so never truncate on a build-only or
explain-only path.

``shared(spark, key, sf_dir, build)`` builds a relation at most once per
(session object, key, sf dir) and stores it exactly once: the value is
kept unless it already is a ``truncate`` checkpoint. Consumers share the
memo object, so a checkpointed value loses no sharing and their compiled
trees stop embedding the build lineage (dedup_minhash_lsh's plan was
2655 lines / 159 Exchange nodes for a 256-row projection). Queries that
read one relation declare it with ``register(..., shares=...)``
(``plans/__init__.py``). ``handle`` memoizes a session-bound handle in the
same memo without storing rows (``load_table``'s analyzed reads). The memo
rides on the session object: DataFrames are bound to their session and
``spark.newSession()`` shares the application id, so a sibling session
starts cold, and a dead session's memo dies with it.

``release()`` unpersists every kept relation and forgets every shared
entry, so the next ``shared`` call rebuilds instead of returning a stale
unpersisted handle. ``stats(spark)`` reports the session's shared entries.
"""

from __future__ import annotations

import sys
import time
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_KEPT: list[DataFrame] = []
_CHECKPOINTS: weakref.WeakSet = weakref.WeakSet()
#: memo-owning sessions; weak, so a dead session drops out
_OWNERS: weakref.WeakSet = weakref.WeakSet()
_MEMO = "_relation_store"


@dataclass
class _Entry:
    df: DataFrame
    stored: bool = False
    built_by: str | None = None
    build_s: float = 0.0
    hits: int = 0


def _memo(spark) -> dict:
    if getattr(spark, _MEMO, None) is None:
        setattr(spark, _MEMO, {})
        _OWNERS.add(spark)
    return getattr(spark, _MEMO)


def keep(df: DataFrame, big: bool = False) -> DataFrame:
    out = df.persist(StorageLevel.MEMORY_ONLY if big else StorageLevel.MEMORY_AND_DISK)
    _KEPT.append(out)
    return out


def truncate(df: DataFrame) -> DataFrame:
    out = df.localCheckpoint(eager=True)
    _CHECKPOINTS.add(out)
    return out


def handle(spark, key, sf_dir: str, build) -> DataFrame:
    memo = _memo(spark)
    k = (key, str(sf_dir))
    if k not in memo:
        memo[k] = _Entry(build())
    return memo[k].df


def shared(spark, key: str, sf_dir: str, build) -> DataFrame:
    memo = _memo(spark)
    k = (key, str(sf_dir))
    if k in memo:
        memo[k].hits += 1
        return memo[k].df
    built_by, t0 = _running_query(), time.perf_counter()
    df = build()
    df = df if df in _CHECKPOINTS else keep(df)
    memo[k] = _Entry(df, True, built_by, time.perf_counter() - t0)
    return df


def release(blocking: bool = False) -> int:
    """Returns how many kept relations were unpersisted."""
    n = 0
    for df in _KEPT:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped: nothing to release
    _KEPT.clear()
    for owner in list(_OWNERS):
        memo = getattr(owner, _MEMO, {})
        for k in [k for k, e in memo.items() if e.stored]:
            del memo[k]
    return n


def stats(spark) -> dict[str, dict]:
    """``{key: {built_by, build_s, bytes, hits}}``: ``build_s`` includes a
    checkpoint's execution; ``bytes`` is what the block manager holds for
    the stored copy now (0 before its first action)."""
    held = {
        i.id(): i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    out = {}
    for (key, sf_dir), e in getattr(spark, _MEMO, {}).items():
        if e.stored:
            out[key if key not in out else f"{key}@{sf_dir}"] = {
                "built_by": e.built_by, "build_s": round(e.build_s, 3),
                "bytes": held.get(_rdd_id(e.df), 0), "hits": e.hits,
            }
    return out


def _rdd_id(df: DataFrame) -> int | None:
    """Id of the RDD whose blocks hold ``df``'s stored copy."""
    if df in _CHECKPOINTS:
        return df._jdf.queryExecution().logical().rdd().id()
    found = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    builder = found.get().cachedRepresentation().cacheBuilder() if found.isDefined() else None
    return builder.cachedColumnBuffers().id() if builder and builder.isCachedColumnBuffersLoaded() else None


def _running_query() -> str | None:
    """Name of the registered query on the call stack, if any."""
    registry = sys.modules.get(__package__ + ".plans.registry")
    codes = {getattr(fn, "__code__", None): n for n, fn in getattr(registry, "QUERIES", {}).items()}
    frame = sys._getframe(1)
    while frame is not None and frame.f_code not in codes:
        frame = frame.f_back
    return codes[frame.f_code] if frame is not None else None
