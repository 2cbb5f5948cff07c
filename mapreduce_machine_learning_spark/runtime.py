"""Session-scoped materialization shared by the operator modules.

Several operators derive a reduced intermediate frame (the MinHash band
table, ANN signatures, distinct basket/shingle frames, contingency tables)
that multiple consumers read — within one query plan, or across the
queries of a pipeline family. Spark cannot unify these re-derivations on
its own (identical-looking lineages never plan-match across separately
built DataFrames), so the write-once step is explicit here.

Both entry points are backed by ``DataFrame.persist()`` (CacheManager-
managed, MEMORY_AND_DISK), not ``localCheckpoint``:

- persist is LAZY — building a query plan never runs a job; the first
  action populates the cache and later consumers (same action or later
  actions) read it;
- persist is RELEASABLE — ``release_all()`` actually frees the blocks
  (``Dataset.unpersist`` is a no-op for localCheckpoint RDD blocks, which
  only die on ContextCleaner GC);
- persist keeps the LINEAGE — the full operator tree stays visible to
  plan audits (tools/scale_audit.py) and survives executor loss by
  recomputation. The one thing checkpointing adds — lineage truncation
  for iterative algorithms — lives where iteration lives
  (functions/graph.py, ml_iterative.py), not here.

``plan_audit_mode(True)`` disables materialization entirely so an audit
sees the raw operator tree of every consumer (and triggers no execution);
it is NOT how queries should run — re-derivation is the cost the cache
exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_MATERIALIZED: dict = {}
_CHECKPOINTED: list = []
_AUDIT_MODE = False


def plan_audit_mode(enabled: bool) -> None:
    """Disable (True) or re-enable (False) materialization globally —
    for plan-shape audits only."""
    global _AUDIT_MODE
    _AUDIT_MODE = enabled


def is_audit_mode() -> bool:
    """True while a plan-shape audit is running — operators with
    data-dependent physical strategies (e.g. the union-find edge cap) use
    this to skip the strategy-picking action and return their default-path
    plan, keeping the audit execution-free."""
    return _AUDIT_MODE


def materialize(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    """Build-once cache keyed by (application, sf_dir, key)."""
    if _AUDIT_MODE:
        return build()
    k = (spark.sparkContext.applicationId, sf_dir, key)
    if k not in _MATERIALIZED:
        _MATERIALIZED[k] = build().persist()
    return _MATERIALIZED[k]


def is_built(spark: SparkSession, sf_dir: str, key: str) -> bool:
    """True if the memo holds ``key`` AND its cache is filled in every
    partition. An entry alone only says some plan was built over it
    (persist is lazy), so a consumer choosing between reading the memo and
    re-deriving its rows asks this instead. Always False under
    plan_audit_mode, which memoizes nothing (an entry filled before the
    mode was set does not count either)."""
    if _AUDIT_MODE:
        return False
    df = _MATERIALIZED.get((spark.sparkContext.applicationId, sf_dir, key))
    if df is None:
        return False
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    return bool(
        cached.isDefined()
        and cached.get()
        .cachedRepresentation()
        .cacheBuilder()
        .isCachedColumnBuffersLoaded()
    )


def checkpoint(df: DataFrame) -> DataFrame:
    """Mark a within-query shared frame for single computation. Lazy: the
    cache fills on the query's own action; every consumer in the plan
    reads the same InMemoryRelation instead of replaying the subtree.

    Every persisted frame is recorded so ``release_all()`` can free it:
    each invocation of a _ckpt-using query builds (and persists) a NEW
    DataFrame, so without the ledger repeated runs — bench loops, long
    sessions — would accumulate unbounded CacheManager entries that no
    "cold timing" reset actually resets (ADVICE round 2)."""
    if _AUDIT_MODE:
        return df
    _CHECKPOINTED.append(df)
    return df.persist()


def pin(df: DataFrame) -> DataFrame:
    """Persist a frame UNCONDITIONALLY (audit mode included), tracked for
    release_all(). For the interior frames of iterative drivers (label
    propagation's symmetrized edge list): their results flow through
    localCheckpoint lineage truncation, so plan audits never see this
    subtree anyway — skipping the persist in audit mode would only make
    the audit re-derive the frame once per loop round."""
    _CHECKPOINTED.append(df)
    return df.persist()


def memo_count() -> int:
    """Number of live session-memo entries. tools/time_sweep.py reads the
    delta around a query run to charge memo-fill cost to its own line
    instead of the alphabetically-first consumer (VERDICT r13 #7)."""
    return len(_MATERIALIZED)


def release_all() -> None:
    """Free every materialized frame (bench cold-timing hygiene)."""
    for df in _MATERIALIZED.values():
        df.unpersist()
    _MATERIALIZED.clear()
    for df in _CHECKPOINTED:
        df.unpersist()
    _CHECKPOINTED.clear()
