"""Session-scoped persist bookkeeping for composed queries.

Operators persist intermediates that several downstream consumers
re-read (shingle sets, MinHash signatures, normed embeddings). A
one-shot driver run discards the session afterwards, but a long-lived
session that sweeps the whole registry would otherwise accumulate one
MEMORY_AND_DISK relation per persist call with nothing ever released.

Contract (single-threaded, like the driver/bench/parity harnesses):

- operators call :func:`scoped_persist` instead of ``df.persist`` and
  :func:`scoped_broadcast` instead of ``sc.broadcast`` so every cached
  relation and broadcast is tracked;
- queries whose output is tiny BY CONSTRUCTION (the invariant
  companions — containment anti-joins, recall flags) finish with
  :func:`collect_release`: materialize the handful of result rows on
  the driver, drop every tracked cache, and hand back a driver-local
  DataFrame, leaving zero cached relations behind;
- queries with data-sized output stay lazy (eager collection would be
  a driver-side anti-pattern at 100 TB); their caches remain tracked
  and must be reclaimed by an explicit :func:`release_scoped` between
  sweep steps (scripts/check_parity.py does this per query) or by
  bench's ``clearCache``. Composed invariants no longer flush the
  global list — their releases stop at their own :func:`cache_scope`
  floor, so a sweep harness that relies on them for cleanup leaks.
  Releasing a cache that a still-lazy plan references is always safe:
  Spark falls back to recomputation, never to a wrong answer.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Persisted relations and broadcasts alike: both release by unpersist().
_SCOPED: list[DataFrame | Broadcast] = []
_MARKS: list[int] = []


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)`` + registration for later release."""
    df.persist(level)
    _SCOPED.append(df)
    return df


def scoped_broadcast(spark: SparkSession, value) -> Broadcast:
    """``sc.broadcast(value)`` + registration, so the broadcast is
    released with the scope's persists. Release is ``unpersist()``, not
    ``destroy()``: a plan that is still lazy re-sends the value instead
    of failing."""
    bc = spark.sparkContext.broadcast(value)
    _SCOPED.append(bc)
    return bc


@contextmanager
def cache_scope():
    """Bound a query invocation's persists: on exit, unpersist ONLY the
    relations persisted inside this scope, leaving any outer caller's
    caches alone. While a scope is active, :func:`release_scoped` /
    :func:`collect_release` also stop at the scope floor — so a
    composed invariant query that eagerly releases its own caches can
    no longer evict caches a surrounding pipeline still references
    (releasing those was CORRECT — Spark recomputes — but a silent
    performance cliff)."""
    _MARKS.append(len(_SCOPED))
    try:
        yield
    finally:
        floor = _MARKS.pop()
        while len(_SCOPED) > floor:
            _SCOPED.pop().unpersist()


def release_scoped() -> int:
    """Unpersist every tracked relation down to the innermost active
    :func:`cache_scope` floor (everything, when no scope is active).
    blocking=False — eviction is async, correctness never depends on
    it. Returns how many were released. Idempotent: unpersisting twice
    is a no-op."""
    floor = _MARKS[-1] if _MARKS else 0
    n = len(_SCOPED) - floor
    while len(_SCOPED) > floor:
        _SCOPED.pop().unpersist()
    return n


def collect_release(df: DataFrame) -> DataFrame:
    """Materialize a result that is tiny by construction (invariant
    flags, empty anti-joins), release all scoped caches, and return the
    rows as a driver-local DataFrame. Callers must only use this where
    the output is bounded independent of corpus size — it is a
    deliberate, documented driver collect, not a data path."""
    spark = df.sparkSession
    rows = df.collect()
    schema = df.schema
    release_scoped()
    return spark.createDataFrame(rows, schema)
