"""Small runtime utilities shared across the engine."""

from __future__ import annotations

import functools
import threading

from pyspark.sql import DataFrame

__all__ = ["free_checkpoint", "ensure_checkpointed", "per_context",
           "restore_conf"]


def _active_ctx():
    """The live SparkContext: the cache key of ``per_context``."""
    from pyspark import SparkContext
    return SparkContext._active_spark_context


def restore_conf(spark, before: dict) -> None:
    """Set ``spark``'s runtime SQL conf back to ``before``, a
    ``dict(spark.conf.getAll)`` snapshot: keys changed since are reset,
    keys set since are unset; static keys are left alone."""
    after = dict(spark.conf.getAll)
    for k in before.keys() | after.keys():
        if after.get(k) == before.get(k) or not spark.conf.isModifiable(k):
            continue
        if k in before:
            spark.conf.set(k, before[k])
        else:
            spark.conf.unset(k)


def per_context(build):
    """Memoize ``build(*args)`` once per SparkContext.

    For builders of Column expressions: a Column is an immutable
    unresolved expression, reusable across plans, but building one costs
    a py4j round-trip per node, paid on the driver on every call.  py4j
    handles point into one gateway; if the JVM is torn down and
    relaunched in a long-lived process, a module-level cache would serve
    stale handles that fail opaquely, so the memo is dropped whenever the
    context object changes.  ``args`` must be hashable.  Thread-safe:
    library callers may build plans from several driver threads (Spark
    supports concurrent job submission), and each must get the one memo
    entry, not a second build racing the first."""
    memo: dict = {}
    key_ctx: list = [object()]     # no context matches the initial key
    lock = threading.RLock()

    @functools.wraps(build)
    def get(*args):
        ctx = _active_ctx()
        with lock:
            if key_ctx[0] is not ctx:
                memo.clear()
                key_ctx[0] = ctx
            if args not in memo:
                memo[args] = build(*args)
            return memo[args]
    return get


def ensure_checkpointed(df: DataFrame) -> None:
    """Force a LAZY ``localCheckpoint(eager=False)`` frame to materialize
    NOW if nothing has touched it yet.

    A lazy checkpoint normally materializes inside its first consumer's
    job — but if every consumer so far could skip it (e.g. AQE
    propagating an empty relation through a join leg), the checkpoint
    still holds live lineage to upstream blocks.  Call this before
    freeing those upstream blocks; it is a no-op (one py4j round-trip)
    when the checkpoint already materialized."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            rdd = plan.rdd()
            if not rdd.isCheckpointed():
                df.count()
    except Exception:
        df.count()


def free_checkpoint(df: DataFrame) -> None:
    """Genuinely free the storage blocks behind a ``localCheckpoint``-ed
    DataFrame.

    ``Dataset.unpersist()`` only drops cache-manager entries and is a
    verified no-op for the RDD persisted by ``localCheckpoint`` on Spark
    4.1.2 (``getRDDStorageInfo`` still lists the blocks afterwards) — the
    blocks otherwise live until a JVM GC happens to collect the dropped
    reference, so a long crawl loop that "unpersists" its per-generation
    scratch frames still degrades as the block store fills.  The
    checkpointed Dataset's logical plan is a ``LogicalRDD`` wrapping the
    persisted RDD; unpersisting THAT RDD JVM-side frees the blocks
    immediately.

    Never call this on a frame whose blocks another live DataFrame still
    reads (lineage over the same LogicalRDD).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()
