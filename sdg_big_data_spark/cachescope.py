"""Scoped cache registry — unpersist discipline for operator caches.

Several operators ``.cache()`` an intermediate that feeds multiple
consumers (shingle tables self-joined for Jaccard, minhash band
signatures, simhash fingerprints, token explosions scoring + training a
vocab). The cache is the right plan — without it the expensive
scan→tokenize chain recomputes per consumer — but a bare ``.cache()``
leaks: in a long-lived session composing these operators, storage memory
accumulates until executors start evicting working-set blocks.

Every operator cache therefore registers here via :func:`scoped_cache`;
consumers that materialize results release with :func:`cache_scope`
(mark/rollback — safe to nest) or :func:`release_caches` (drop
everything, e.g. a bench harness between queries).

``unpersist`` is always correctness-safe in Spark — dropping a cache
merely means downstream actions recompute the lineage — so releasing
"too early" can never corrupt a result, only slow a later reuse.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []

# (spark, rdd-ids) of localCheckpoint blocks operators leave behind for
# their caller (e.g. the final labels/ranks frame of an iterative graph
# algorithm). clearCache()/unpersist() do NOT release checkpointed RDDs;
# these ids are swept by release_caches via the JVM persistent-RDD map.
_LIVE_CKPT: list[tuple[object, frozenset]] = []


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register for later release."""
    cached = df.cache()
    _LIVE.append(cached)
    return cached


def register_checkpoint_ids(spark, ids) -> None:
    """Register localCheckpoint RDD ids for later release (operators
    that hand a checkpoint-backed frame to their caller)."""
    if ids:
        _LIVE_CKPT.append((spark, frozenset(ids)))


def _persistent_ids(spark) -> set[int]:
    """Ids of every RDD the session holds persisted (cache and
    localCheckpoint blocks alike)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@contextmanager
def new_persistent_ids(spark):
    """Yield a set that, once the ``with`` body has run, holds the ids
    of the RDDs it persisted — how a lazy
    ``localCheckpoint(eager=False)`` learns its block ids from the
    action that materializes it."""
    ids: set[int] = set()
    before = _persistent_ids(spark)
    yield ids
    ids.update(_persistent_ids(spark) - before)


def unpersist_ids(spark, ids) -> None:
    """Unpersist the persistent RDDs with these ids; ids already gone
    (or a stopped session) are skipped. ``clearCache()``/``unpersist()``
    do NOT release checkpointed RDDs — this is the only way to."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist()
    except Exception:
        pass  # session already stopped — nothing to release


def checkpoint_with_ids(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager ``localCheckpoint`` + the ids of the persistent RDDs it
    created, NOT registered: iterative operators
    (:mod:`.operators.graph`) :func:`unpersist_ids` superseded iteration
    state themselves and register only what outlives them. Without
    that, every iteration's checkpoint blocks stay in storage memory
    for the session's lifetime — measured as a 2x whole-suite slowdown
    once a few iterative queries had run."""
    with new_persistent_ids(df.sparkSession) as ids:
        out = df.localCheckpoint()
    return out, ids


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` registered for release by
    :func:`release_caches`/:func:`cache_scope`.

    Use where a narrow intermediate feeds MANY downstream branches and
    the goal is truncating the LOGICAL plan (a cache only dedups
    execution; analysis still walks the full subtree once per branch —
    measured ~1 s of planning on the composed curation query). Unlike a
    cache, dropping a checkpoint does NOT fall back to recompute — the
    blocks must outlive every consumer, which the registry guarantees
    for the within-action lifetime operators need."""
    out, ids = checkpoint_with_ids(df)
    register_checkpoint_ids(df.sparkSession, ids)
    return out


# Session-pinned caches: shared corpus materializations (e.g. the
# tokenize-once documents frame) that must SURVIVE the per-query cache
# hygiene of benchmarks and long-running harnesses. Pinned frames are
# persisted (recompute-safe: lineage intact, an external unpersist just
# costs a recompute, never a failure) and their storage RDD ids are
# recorded so :func:`sweep_unpinned` can release everything else.
# Keyed by (applicationId, rdd_id): RDD ids restart at 0 per
# SparkContext, so a bare id set would let stale pins from a stopped
# session shadow same-id RDDs in a later one and exempt them from the
# sweep (ADVICE r8); dead-app entries are pruned on each sweep, the
# same discipline as shared_corpus._MEMO.
_PINNED_IDS: set[tuple[str, int]] = set()


def pin_session_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) for the LIFETIME OF THE SESSION
    — outside :func:`cache_scope` / :func:`release_caches` tracking —
    and materialize it eagerly so the storage RDD ids are known and
    recorded for :func:`sweep_unpinned` to skip. For corpus-wide
    intermediates shared across MANY queries in one session (the
    tokenize-once pattern); per-query shared subtrees should keep using
    :func:`scoped_cache`.

    If the count records NO new persistent RDDs (the plan was already
    materialized in the CacheManager before the persist call), there is
    nothing to exempt and the next sweep would silently drop — and every
    later query recompute — the "pinned" frame; that is a caller bug
    (pin BEFORE any action on an identical plan), so it warns loudly."""
    import warnings

    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    app_id = spark.sparkContext.applicationId
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with new_persistent_ids(spark) as new:
        out.count()
    if not new:
        warnings.warn(
            "pin_session_cache recorded zero new storage RDDs — the plan "
            "was already materialized, so the pin is NOT sweep-exempt and "
            "will be released (and recomputed) by the next sweep_unpinned",
            RuntimeWarning,
            stacklevel=2,
        )
    _PINNED_IDS.update((app_id, i) for i in new)
    return out


def sweep_unpinned(spark) -> int:
    """Unpersist every persistent RDD in the session EXCEPT the ones
    pinned via :func:`pin_session_cache` — the pinned-aware replacement
    for ``spark.catalog.clearCache()`` + a raw persistent-RDD sweep in
    per-query hygiene loops (benchmarks). RDD-level unpersist of an
    unregistered ``.cache()`` leaves its CacheManager entry behind,
    which is safe: a later reuse re-materializes through the same
    InMemoryRelation (recompute, never an error) and the next sweep
    releases the blocks again."""
    n = 0
    try:
        app_id = spark.sparkContext.applicationId
        stale = {k for k in _PINNED_IDS if k[0] != app_id}
        _PINNED_IDS.difference_update(stale)
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in set(jmap.keySet().toArray()):
            if (app_id, i) in _PINNED_IDS:
                continue
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist()
                n += 1
    except Exception:
        pass  # session already stopped — nothing to release
    return n


def live_cache_count() -> int:
    return len(_LIVE)


def _release_to(mark: int, ckpt_mark: int, blocking: bool) -> int:
    n = 0
    while len(_LIVE) > mark:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    while len(_LIVE_CKPT) > ckpt_mark:
        unpersist_ids(*_LIVE_CKPT.pop())
        n += 1
    return n


def release_caches(blocking: bool = False) -> int:
    """Unpersist every registered cache + checkpoint; returns how many
    were dropped."""
    return _release_to(0, 0, blocking)


@contextmanager
def cache_scope(blocking: bool = False):
    """Release (only) the caches registered inside the ``with`` body —
    mark/rollback semantics, so nested scopes and pre-existing caches
    compose correctly. Wrap any entry point that materializes operator
    results (pipelines, benchmarks, report builders)."""
    mark, ckpt_mark = len(_LIVE), len(_LIVE_CKPT)
    try:
        yield
    finally:
        _release_to(mark, ckpt_mark, blocking)
