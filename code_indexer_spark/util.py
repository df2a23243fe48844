"""Small shared runtime helpers."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def cached_persist(
    registry: dict,
    key: tuple,
    build: Callable[[], DataFrame],
    eager: bool = True,
    storage_level=None,
) -> DataFrame:
    """Session-scoped get-or-persist: the one shape behind the
    mapping/chunks/shingle registries (plans.pipeline._MAPPING_CACHE,
    _CHUNKS_CACHE, operators.dedup._SHINGLE_CACHE). `key` must start
    with the applicationId so a recycled object address can never serve
    a DataFrame from a stopped session; `eager` materializes with
    count() (the mapping/chunks behavior), lazy leaves materialization
    to the first action (the shingle behavior)."""
    hit = registry.get(key)
    if hit is None:
        df = build()
        hit = (df.persist(storage_level) if storage_level is not None
               else df.persist())
        if eager:
            hit.count()
        registry[key] = hit
    return hit


def free_local_checkpoint(df: DataFrame) -> None:
    """Explicitly release the cached blocks behind a
    ``localCheckpoint(eager=True)`` DataFrame.

    Iterative loops (pagerank until_converged, dedup_resolution)
    checkpoint a fresh O(nodes) table every round; the superseded
    round's blocks are otherwise reclaimed only when Python GC → py4j
    detach → ContextCleaner all happen to run, so a slowly-converging
    run can pin many node-sized tables in storage memory. This frees
    them deterministically: the checkpointed Dataset's analyzed plan is
    a LogicalRDD wrapping the cached RDD — unpersist it (non-blocking).

    Best-effort: if the plan is not a LogicalRDD (df was never
    checkpointed) this is a no-op.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass


def cached_plan(df: DataFrame,
                 registry: dict[tuple, DataFrame]) -> DataFrame:
    from pyspark import StorageLevel

    # semanticHash is only a 32-bit prefilter — Spark itself always
    # pairs it with sameResult() — so a hit must CONFIRM the stored
    # plan really is this plan before serving it (a colliding hash must
    # never serve the wrong persisted table). Distinct same-hash plans
    # get salted key slots. Every slot is checked for a confirmed hit
    # before the first empty one is taken: once an earlier colliding
    # entry is evicted, its freed slot must not receive a second
    # persisted copy of a plan that already lives in a later slot.
    # After 16 colliding plans (astronomically unlikely) we skip
    # caching rather than evict someone else's live entry.
    analyzed = df._jdf.queryExecution().analyzed()
    base = (df.sparkSession.sparkContext.applicationId,
            analyzed.semanticHash())
    keys = [base + (slot,) for slot in range(16)]
    for key in keys:
        hit = registry.get(key)
        if hit is not None and (
                hit._jdf.queryExecution().analyzed().sameResult(analyzed)):
            return hit
    free = next((k for k in keys if k not in registry), None)
    if free is None:
        return df
    # lazy + MEMORY_AND_DISK: at the 100 TB shape this spills instead
    # of evicting-and-recomputing
    return cached_persist(registry, free, lambda: df, eager=False,
                          storage_level=StorageLevel.MEMORY_AND_DISK)
