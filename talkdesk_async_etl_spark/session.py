"""SparkSession builders for the engine's execution profiles.

The reference configures Spark implicitly (Databricks runtime) and tunes
nothing; we centralize session construction so every profile gets the
same scale-oriented defaults:

- AQE on (runtime re-plan: broadcast-demotion, skew-join splitting,
  partition coalescing) — replaces the reference's manual
  ``repartition(ceil(n/100))`` sizing for relational work.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number.
- UTC session timezone: the reference mixes local time
  (local/talkdesk_local_etl.py:33) and UTC
  (databricks/talkdesk_databricks_etl.py:495); the engine is UTC-only.
- Arrow enabled for every pandas boundary (pandas UDFs, toPandas).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "talkdesk_async_etl_spark",
    master: str | None = None,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine SparkSession with scale-safe defaults.

    On a real cluster, ``master`` comes from the environment and the
    shuffle-partition default should be left to AQE coalescing from a
    high initial count; locally we pin it to the core count so tiny
    test data is not over-parallelized (200 empty tasks).
    """
    cpus = cpus or DEFAULT_CPUS
    # One BLAS thread per Python worker: a Spark task owns one core, so
    # BLAS-internal threading across 32 concurrent workers is pure
    # spin-wait contention (measured 14x on the cosine block kernel's
    # GEMMs). Set BEFORE the JVM launches so pyspark.daemon inherits it;
    # operators' kernels re-assert it for foreign-session workers.
    for _v in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(_v, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (the events table) is illegal for the
        # vectorized reader; read as epoch-nanos long and convert in
        # sources.io.read_table. Keeps the scan vectorized + prunable.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ContextCleaner frees broadcast/shuffle/persist blocks only when
        # the driver GCs their weak refs; the default forced-GC interval
        # (30 min) lets dead blocks accumulate in the shared local JVM
        # until execution memory starves and later queries slow 10-30x.
        .config("spark.cleaner.periodicGC.interval", "15s")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master:
        builder = builder.config("spark.master", master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.config("spark.master", f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Ownership state for single_partition_loop's session-global conf pin:
# one thread may hold (and nest) the window; any other thread trying to
# open one while it is held is a contract violation and fails loudly.
_window_lock = threading.Lock()
_window_owner: int | None = None
_window_depth = 0


@contextmanager
def single_partition_loop(spark: SparkSession, n_parts: int):
    """Execution-conf window for fixpoint loops whose per-round
    relations fit ONE partition (``n_parts == 1`` — the same
    graph-size-derived partition count the iterative operators already
    use to size their persisted relations, never a core-count rule).

    Inside the window AQE is disabled and ``shuffle.partitions`` is
    pinned to 1: a single-partition loop round has nothing for AQE to
    coalesce or skew-split, so its per-query-stage re-planning is pure
    scheduling overhead paid once per materialized round — measured
    0.28 s → 0.16 s per label-propagation round on the sf0.1 dup-pair
    graph (256 pairs), ~30-35% off whole fixpoint loops (guide §1.2
    step 2: per-task/scheduling work, after the algorithm shape).
    On a real graph (n_parts > 1, i.e. ≥100k edges) the window is a
    NO-OP and AQE keeps its runtime re-planning — the toggle derives
    from data size, so cluster-scale behavior is unchanged.

    Both confs restore on exit. Safe because every iterative operator
    materializes each round inside the loop (localCheckpoint + count /
    collect); no lazy plan built in the window is executed after it —
    and the harnesses are single-threaded (plans/cache.py contract).

    The conf pin is SESSION-GLOBAL, so the single-threaded assumption
    is load-bearing: a query submitted from another thread while a
    window is open would silently inherit AQE-off/1-partition plans
    (ADVICE r15). The ownership guard below turns that silent
    inheritance into a loud error for the case it can see — a second
    thread opening its own window; same-thread nesting (the composed
    pipelines) stays legal. A harness that gains intra-query
    concurrency (guide §2.6 thread pools) must scope these confs
    per-thread instead — e.g. submit the windowed loop and the
    concurrent queries on separate sessions via ``newSession()``,
    which shares the SparkContext but isolates SQL conf.
    """
    if n_parts > 1:
        yield
        return
    me = threading.get_ident()
    global _window_owner, _window_depth
    with _window_lock:
        if _window_owner is not None and _window_owner != me:
            raise RuntimeError(
                "single_partition_loop: conf window already held by another"
                " thread — the AQE/shuffle-partition pin is session-global"
                " and would leak into that thread's queries (single-"
                "threaded-harness contract; see docstring)"
            )
        _window_owner = me
        _window_depth += 1
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        with _window_lock:
            _window_depth -= 1
            if _window_depth == 0:
                _window_owner = None


def cluster_conf(target_shuffle_partitions: int = 4000) -> dict[str, str]:
    """The conf set the engine ships to a REAL cluster (the 100 TB /
    ~1000-executor target this repo designs for) — the concrete form of
    SCALING.md's local-vs-cluster deltas. Pass through ``build_session
    (extra_conf=cluster_conf())`` on a cluster master; harmless-but-
    pointless locally (the local profile pins partitions to cores
    instead).

    Rationale per knob:

    - shuffle.partitions + AQE initialPartitionNum start HIGH (4000 ≈
      4× executor cores for 1000 × 4-core executors): AQE coalesces
      down to ~advisory size after seeing real map output, but it can
      never split an initial partition that was too coarse — so the
      only safe error is too many.
    - advisoryPartitionSizeInBytes 128m: the post-coalesce target;
      keeps reducer input comfortably under executor memory with room
      for hash tables.
    - files.maxPartitionBytes 256m: scan tasks sized so a 100 TB scan
      is ~400k tasks, amortizing scheduling overhead without starving
      parallelism; parquet row groups stay intact.
    - skewJoin on (factor 5 / 256m threshold defaults): AQE splits
      moderately skewed join partitions at runtime; EXTREME single-key
      skew still wants the explicit salted join (join_skew_salted).
    - autoBroadcastJoinThreshold 64m: dimensions meaningfully larger
      than the 10m default still beat a 100 TB fact shuffle when
      broadcast; executors at this scale have the headroom.
    - dynamicAllocation + shuffleTracking: fan-out stages (connector
      ingest, per-partition asyncio loops) idle between waves; release
      executors without an external shuffle service.
    - Kryo: the pipeline's dataclass rows and numpy-free operator
      closures serialize fine on Kryo and it halves shuffle bytes for
      the few non-Tungsten paths (RDD-free engine → mostly moot, but
      free).
    - maxResultSize 4g: the engine collects only bounded sets
      (SURVEY §1.3), but a 1000-partition TakeOrderedAndProject merge
      of wide rows can brush the 1g default.
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            target_shuffle_partitions
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(target_shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.driver.maxResultSize": "4g",
    }
