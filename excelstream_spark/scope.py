"""Materialization scope: the one module that decides how a frame is
shared, materialized and released.

Operators that reuse a subtree call one of three verbs.  Everything a
verb pins is released together at the scope boundary,
:func:`release_persists`, which every catalog query (plans/catalog.py)
and bench leg calls at entry:

* :func:`share` — lazy ``persist()``.  For a subtree that feeds several
  consumers of one plan (e.g. both sides of a self-join: ReusedExchange
  does NOT kick in under AQE here, and the unshared plan measured 2.5x
  slower).
* :func:`materialize` — eager and size-guarded.  For a subtree that
  feeds many concurrent broadcast-exchange builds inside a large
  composed plan: a lazy persist first pulled by several build threads
  is raced and its subtree recomputed per thread (the r13/r14 finding),
  and nested ``InMemoryRelation`` towers make plan canonicalization
  quadratic.
* :func:`checkpoint` — eager, lineage-truncating ``localCheckpoint``
  that also returns a ``free()`` for the blocks this call owns, so an
  iterative loop (connected components, BPE) can drop each round's
  blocks as soon as the next round is materialized.

INVARIANT: a checkpointed frame (from :func:`checkpoint`, or from
:func:`materialize` below the size bound) reads truncated lineage.
After :func:`release_persists` re-executing a retained handle fails
("checkpoint block not found") instead of recomputing the way an
unpersisted lazy cache would.  Scope boundaries end the life of those
intermediate frames; materialized RESULTS stay valid.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: what the verbs pinned since the last boundary: persisted DataFrames
#: to unpersist and ``free()`` callables for checkpoint blocks (which
#: are not CacheManager entries, so ``unpersist()`` cannot free them).
_SCOPE: list = []

#: plan-stats size (bytes) up to which :func:`materialize` takes the
#: unreplicated ``localCheckpoint``; above it the durable DISK_ONLY
#: persist.  8 GiB: far above any metadata-scale table, far below a
#: payload-scale corpus slice at production scale.
_CHECKPOINT_BOUND_BYTES = int(
    os.environ.get("SPARK_GRAFT_CHECKPOINT_BOUND_BYTES", str(8 * 1024**3))
)


def _query_execution(df: DataFrame):
    """The JVM ``QueryExecution`` — the only Spark internals this module
    reads (size estimate, checkpoint RDD id); both lookups may miss on
    Spark API drift, and each miss warns."""
    return df._jdf.queryExecution()


def share(df: DataFrame) -> DataFrame:
    """Lazy ``persist()``, unpersisted at the scope boundary."""
    _SCOPE.append(df.persist())
    return df


def checkpoint(df: DataFrame) -> tuple[DataFrame, Callable[[], None]]:
    """Eager ``localCheckpoint`` -> ``(frame, free)``.

    ``free()`` unpersists exactly the RDD this call owns, read off the
    checkpointed Dataset's own ``LogicalRDD`` — never a global storage
    diff, which in a shared session could name (and destroy the only
    copy of) a concurrent job's checkpoint.  It is idempotent and also
    runs at the scope boundary, so callers free early only when they
    know the frame is dead.  Storage is unreplicated executor memory and
    disk: fine for metadata-scale tables (ids, 64-bit fingerprints),
    not for payload; see :func:`materialize`.  Batch frames only."""
    sc = df.sparkSession.sparkContext
    out = df.localCheckpoint(eager=True)
    try:
        owned = [_query_execution(out).analyzed().rdd().id()]
    except Exception:
        warnings.warn(
            "scope.checkpoint: checkpoint RDD id unresolved (Spark "
            "internals drift?) — blocks will not be freed at "
            "release_persists() and live until session end",
            RuntimeWarning,
            stacklevel=2,
        )
        owned = []

    def free() -> None:
        while owned:
            rid = owned.pop()
            try:
                jrdd = sc._jsc.getPersistentRDDs().get(rid)
                if jrdd is not None:
                    jrdd.unpersist(True)
            except Exception:
                pass  # degrade to GC-eventually, never to an error

    _SCOPE.append(free)
    return out, free


def materialize(df: DataFrame) -> DataFrame:
    """Eager, size-guarded materialization, released at the scope
    boundary.  Decided from the optimizer's size estimate:

    * at most ``_CHECKPOINT_BOUND_BYTES`` -> :func:`checkpoint` (eager,
      lineage-truncating: keeps the composed plans small);
    * above the bound, or no estimate (warns) -> ``persist`` at
      ``DISK_ONLY`` plus a materializing noop write: still eager, but
      the lineage survives, so a lost executor recomputes its blocks
      instead of failing the job.

    CAVEAT: plan statistics propagate through ``mapInPandas`` unchanged,
    so a Python stage that EXPANDS its payload (decode, synthesis) is
    underestimated and can land on the unreplicated checkpoint at any
    real size.  Do not hand such output to this verb expecting the
    durable path."""
    try:
        est = int(_query_execution(df).optimizedPlan().stats().sizeInBytes())
    except Exception:
        warnings.warn(
            "scope.materialize: size estimate unavailable — taking the "
            "durable DISK_ONLY path",
            RuntimeWarning,
            stacklevel=2,
        )
        est = -1
    if 0 <= est <= _CHECKPOINT_BOUND_BYTES:
        return checkpoint(df)[0]
    out = df.persist(StorageLevel.DISK_ONLY)
    _SCOPE.append(out)
    out.write.format("noop").mode("overwrite").save()
    return out


def release_persists() -> None:
    """Release everything pinned since the last boundary.  Safe between
    queries: a materialized result never needs its intermediates again,
    and a rebuild re-pins.

    BLOCKING on purpose: with ``blocking=False`` the next run re-persists
    the SAME plan while the async delete is queued, stale copies pile up
    in storage memory, and intermittent 2.5-4x stalls appear (measured on
    the minhash bench leg: 7-11 s outliers async, none blocking).  The
    wait itself is milliseconds."""
    while _SCOPE:
        item = _SCOPE.pop()
        if isinstance(item, DataFrame):
            item.unpersist(blocking=True)
        else:
            item()
