"""Statistical aggregates: correlation/regression, winsorization, and
mergeable distinct-count sketches.

Extends SURVEY.md §2.4 beyond the reference's count/sum surface
(databricks/talkdesk_databricks_etl.py:191-200 groups and counts its
monitoring rows; a production analytics engine also needs second-moment
statistics and sketch-mergeable cardinalities). All three queries run on
the ``events`` fact table.

Scale notes: every aggregate here is a single hash-shuffle on a
low-cardinality key (5 event types) with map-side partial aggregation —
the shuffled relation is O(groups), not O(rows), at any corpus size.
The winsorize query adds one broadcast join of the per-group quantile
relation (5 rows) back onto the fact scan. The HLL invariant is the
100 TB story for distinct counts: Datasketches HLL state merges
associatively, so per-partition sketches combine without ever shuffling
raw user ids, and sketches persisted per ingest batch union
incrementally instead of rescanning history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.operators.sampling import (
    _AB_CONTROL_P,
    _AB_SALT,
    _AB_TREAT_P,
)
from talkdesk_async_etl_spark.plans.cache import scoped_persist
from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.session import partitions_for
from talkdesk_async_etl_spark.sources.io import read_table as t


@query(
    "agg_corr_regr",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(corr(value, x), 6) AS corr_vx,
               round(regr_slope(value, x), 6) AS slope,
               round(regr_intercept(value, x), 6) AS intercept,
               round(covar_samp(value, x), 6) AS covar_vx,
               round(stddev_samp(value), 6) AS sd_value
        FROM (SELECT event_type, value,
                     CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x
              FROM events)
        GROUP BY event_type
    """,
    tags=("agg", "stats"),
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlation and least-squares fit of event value vs
    hour-of-day — the drift/seasonality diagnostic a monitoring pipeline
    runs over its metric stream (the reference only counts statuses,
    MON:71-90; this is the second-moment extension).

    All six statistics are JVM-side builtins sharing one hash aggregate
    (Spark fuses them into a single ObjectHashAggregate pass): corr,
    regr_slope/intercept, covar_samp, stddev_samp. Both engines compute
    identical co-moment recurrences; results are rounded to 6 dp so
    partial-aggregation term order cannot flip the hash."""
    ev = t(spark, sf_dir, "events", spread=True).withColumn(
        "x", F.hour("ts").cast("double")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.corr("value", "x"), 6).alias("corr_vx"),
        F.round(F.expr("regr_slope(value, x)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(value, x)"), 6).alias("intercept"),
        F.round(F.covar_samp("value", "x"), 6).alias("covar_vx"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
    )


@query(
    "window_winsorize",
    oracle="""
        WITH pct AS (
            SELECT event_type, quantile_cont(value, 0.05) AS p05,
                   quantile_cont(value, 0.95) AS p95
            FROM events GROUP BY event_type
        )
        SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
               round(avg(greatest(p05, least(p95, value))), 6) AS avg_clip,
               round(min(greatest(p05, least(p95, value))), 6) AS min_clip,
               round(max(greatest(p05, least(p95, value))), 6) AS max_clip,
               CAST(sum(CASE WHEN value < p05 OR value > p95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped
        FROM events e JOIN pct USING (event_type)
        GROUP BY e.event_type
    """,
    tags=("agg", "stats", "percentile"),
)
def window_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip to [p05, p95]) then re-aggregate —
    the outlier-trimming step value-distribution monitoring applies
    before alerting on averages.

    Two-pass shape, NOT a window: an exact-percentile aggregate first
    (Spark ``percentile`` interpolates identically to DuckDB
    ``quantile_cont``), producing a groups-sized relation that
    broadcast-joins back onto the fact scan. A window formulation
    (percentile OVER (PARTITION BY type)) would shuffle and sort the
    full fact table per group; the agg+broadcast form shuffles only
    per-group percentile state and rescans — at 100 TB the rescan is
    the cheap side of that trade, and AQE turns the 5-row join into a
    BroadcastHashJoin without being asked."""
    ev = t(spark, sf_dir, "events", spread=True)
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clipped = ev.join(F.broadcast(pct), "event_type").withColumn(
        "v_clip", F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("value")))
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v_clip"), 6).alias("avg_clip"),
        F.round(F.min("v_clip"), 6).alias("min_clip"),
        F.round(F.max("v_clip"), 6).alias("max_clip"),
        F.sum(
            ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).cast(
                "long"
            )
        ).alias("n_clipped"),
    )


_HLL_TOL = 0.05  # Datasketches HLL default lgK=12 → ~1.6% rse; 5% is 3σ+


@query(
    "agg_hll_sketch_ok",
    # Invariant companion (same pattern as sim_kmeans_inertia_ok): the
    # oracle pins the exact group count and TRUE for both tolerance
    # checks. A sketch-update bug, a wrong estimate transform, or a
    # broken union inflates the error beyond 3σ and flips a flag →
    # driver hash mismatch.
    oracle="""
        SELECT CAST(1 AS BOOLEAN) AS groups_within_tol,
               CAST(1 AS BOOLEAN) AS union_within_tol,
               (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
                   AS n_groups
    """,
    tags=("agg", "sketch", "invariant"),
)
def agg_hll_sketch_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache Datasketches HLL,
    built into Spark as ``hll_sketch_agg``/``hll_union_agg``): estimate
    distinct users per event type AND the distinct users overall by
    UNIONING the per-group sketches — never re-touching raw ids — then
    attest both against exact counts within ±5%.

    This is the incremental-cardinality shape a 100 TB pipeline needs:
    per-partition sketch state is a few KB regardless of row count, the
    shuffle moves sketches instead of user ids, and the union step
    proves per-batch sketches can roll up without a global re-scan
    (persist one sketch per ingest day; total distinct = union of 365
    sketches). The exact counts computed here for attestation are the
    expensive path the sketch replaces."""
    ev = t(spark, sf_dir, "events", spread=True)
    per_group = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count_distinct("user_id").alias("exact"),
    )
    # Union the 5 per-group sketches into the overall estimate; compare
    # against the directly-computed overall exact count.
    unioned = per_group.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("union_est"),
        F.bool_and(
            F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("exact"))
            / F.col("exact")
            <= _HLL_TOL
        ).alias("groups_within_tol"),
        F.count("*").alias("n_groups"),
    )
    overall = ev.agg(F.count_distinct("user_id").alias("overall_exact"))
    return (
        unioned.crossJoin(F.broadcast(overall))
        .select(
            "groups_within_tol",
            (
                F.abs(F.col("union_est") - F.col("overall_exact"))
                / F.col("overall_exact")
                <= _HLL_TOL
            ).alias("union_within_tol"),
            F.col("n_groups").cast("long").alias("n_groups"),
        )
    )


@query(
    "agg_cohort_retention",
    # Both engines truncate weeks to Monday (ISO) and the day gap
    # between two Monday-truncated dates is always a multiple of 7, so
    # the integer division is exact; DISTINCT user counts are
    # order-independent. Week values are cast to DATE on both sides so
    # the canonicalizer compares like types.
    oracle="""
        WITH acts AS (
            SELECT user_id,
                   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w,
                   CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))
                        OVER (PARTITION BY user_id)) AS DATE) AS cw
            FROM events
        )
        SELECT cw AS cohort_week,
               CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS week_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        FROM acts GROUP BY cohort_week, week_offset
    """,
    tags=("agg", "analytics"),
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-depth: weekly cohort retention — users grouped by the week of
    their FIRST event, counted as active per week offset since. The
    canonical growth-analytics matrix (the reference's monitoring only
    counts statuses per day, RM:447-457; this is the per-entity
    longitudinal extension).

    Plan: the per-user first-event timestamp is a window MIN over
    user_id — the same single shuffle a groupBy+self-join would pay,
    in one pass with no join — then one distinct-aggregate over
    (cohort_week, offset). At 100 TB the distinct is per (cohort,
    offset) cell on user ids; swap `count_distinct` for the HLL-sketch
    path (agg_hll_sketch_ok) when cells hold billions of users and a
    ±2% retention figure is acceptable."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events", spread=True)
    wu = Window.partitionBy("user_id")
    acts = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("w"),
        F.date_trunc("week", F.min("ts").over(wu)).cast("date").alias("cw"),
    )
    return (
        acts.select(
            F.col("cw").alias("cohort_week"),
            F.expr("CAST(datediff(w, cw) div 7 AS BIGINT)").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "agg_profile_columns",
    # One aggregate CTE feeds six UNION ALL projections — the SQL twin
    # of Spark's agg + stack. Numeric min/max surface as DOUBLE (BIGINT
    # → DOUBLE is exact at these magnitudes), strings as VARCHAR, and
    # the timestamp column as its DATE string so no engine-specific
    # timestamp rendering enters the hash.
    oracle="""
        WITH a AS (
            SELECT count(*) AS n,
                   count(o_orderkey) AS c1, count(DISTINCT o_orderkey) AS d1,
                   CAST(min(o_orderkey) AS DOUBLE) AS mn1,
                   CAST(max(o_orderkey) AS DOUBLE) AS mx1,
                   count(o_custkey) AS c2, count(DISTINCT o_custkey) AS d2,
                   CAST(min(o_custkey) AS DOUBLE) AS mn2,
                   CAST(max(o_custkey) AS DOUBLE) AS mx2,
                   count(o_totalprice) AS c3,
                   count(DISTINCT o_totalprice) AS d3,
                   min(o_totalprice) AS mn3, max(o_totalprice) AS mx3,
                   count(o_orderstatus) AS c4,
                   count(DISTINCT o_orderstatus) AS d4,
                   min(o_orderstatus) AS mn4, max(o_orderstatus) AS mx4,
                   count(o_orderpriority) AS c5,
                   count(DISTINCT o_orderpriority) AS d5,
                   min(o_orderpriority) AS mn5, max(o_orderpriority) AS mx5,
                   count(o_orderdate) AS c6,
                   count(DISTINCT o_orderdate) AS d6,
                   CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS mn6,
                   CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS mx6
            FROM orders
        )
        SELECT 'o_orderkey' AS column_name, CAST(n - c1 AS BIGINT) AS n_nulls,
               CAST(d1 AS BIGINT) AS n_distinct, mn1 AS min_num,
               mx1 AS max_num, CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str FROM a
        UNION ALL
        SELECT 'o_custkey', CAST(n - c2 AS BIGINT), CAST(d2 AS BIGINT),
               mn2, mx2, NULL, NULL FROM a
        UNION ALL
        SELECT 'o_totalprice', CAST(n - c3 AS BIGINT), CAST(d3 AS BIGINT),
               mn3, mx3, NULL, NULL FROM a
        UNION ALL
        SELECT 'o_orderstatus', CAST(n - c4 AS BIGINT), CAST(d4 AS BIGINT),
               NULL, NULL, mn4, mx4 FROM a
        UNION ALL
        SELECT 'o_orderpriority', CAST(n - c5 AS BIGINT), CAST(d5 AS BIGINT),
               NULL, NULL, mn5, mx5 FROM a
        UNION ALL
        SELECT 'o_orderdate', CAST(n - c6 AS BIGINT), CAST(d6 AS BIGINT),
               NULL, NULL, mn6, mx6 FROM a
    """,
    tags=("agg", "stats", "profiling"),
)
def agg_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile — per-column null count, exact
    distinct count, and min/max — in long format (one row per column),
    the ``ANALYZE TABLE`` / data-quality snapshot a monitoring pipeline
    stores per ingest batch (the reference stores only row counts per
    report, RM:447-457; this is the per-column extension that catches
    schema drift, null storms, and key-cardinality anomalies).

    Plan: TWO aggregates over the scan, cross-joined as 1-row
    relations. Fusing all 25 statistics into one aggregate plans the
    six exact DISTINCTs as an Expand (×7 rows) whose partial level
    also carries the string min/max buffers — variable-width buffers
    force SortAggregate, so the million-row expanded relation gets
    SORTED on a 7-column key (measured 2.6 s at sf0.1). Split, the
    min/max/count branch sort-aggregates only the raw rows and the
    Expand branch keeps fixed-width buffers → whole-stage HashAggregate
    (measured 1.0 s). The stack() unpivot of the 1-row result is free.
    At 100 TB swap the exact distincts for ``approx_count_distinct``
    (or the mergeable HLL/theta sketches in agg_hll_sketch_ok /
    sketches.py): that removes the Expand branch entirely; exact
    distinct is kept here because the oracle must reproduce the
    numbers."""
    cols = (
        ("o_orderkey", 1),
        ("o_custkey", 2),
        ("o_totalprice", 3),
        ("o_orderstatus", 4),
        ("o_orderpriority", 5),
        ("o_orderdate", 6),
    )
    o = t(spark, sf_dir, "orders", spread=True)
    mm = o.agg(
        F.count("*").alias("n"),
        *[
            e
            for c, i in cols
            for e in (
                F.count(c).alias(f"c{i}"),
                F.min(c).alias(f"mn{i}"),
                F.max(c).alias(f"mx{i}"),
            )
        ],
    )
    dd = o.agg(*[F.count_distinct(c).alias(f"d{i}") for c, i in cols])
    a = mm.crossJoin(F.broadcast(dd))
    num = "CAST(mn{i} AS DOUBLE), CAST(mx{i} AS DOUBLE), CAST(NULL AS STRING), CAST(NULL AS STRING)"
    txt = "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn{i}, mx{i}"
    dt = (
        "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
        "CAST(CAST(mn{i} AS DATE) AS STRING), CAST(CAST(mx{i} AS DATE) AS STRING)"
    )
    rows = ", ".join(
        f"'{c}', CAST(n - c{i} AS BIGINT), CAST(d{i} AS BIGINT), "
        + kind.format(i=i)
        for c, i, kind in (
            ("o_orderkey", 1, num),
            ("o_custkey", 2, num),
            ("o_totalprice", 3, num),
            ("o_orderstatus", 4, txt),
            ("o_orderpriority", 5, txt),
            ("o_orderdate", 6, dt),
        )
    )
    return a.select(
        F.expr(
            f"stack(6, {rows}) AS "
            "(column_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
        )
    )


@query(
    "agg_gap_fill_daily",
    # DuckDB's generate_series(DATE, DATE, INTERVAL) emits timestamps;
    # cast back to DATE so both engines produce a plain date key. The
    # per-user span endpoints are exact min/max — order-independent.
    oracle="""
        WITH daily AS (
            SELECT user_id,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                       AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id, day
        ),
        span AS (
            SELECT user_id, min(day) AS d0, max(day) AS d1
            FROM daily GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS day
            FROM span
        )
        SELECT g.user_id, g.day,
               CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events
        FROM grid g LEFT JOIN daily d USING (user_id, day)
    """,
    tags=("agg", "timeseries"),
)
def agg_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: per-user daily event counts DENSIFIED over
    each user's own [first-day, last-day] span — missing days appear
    with an explicit 0. Every downstream rolling-window or
    day-over-day computation (W3's moving frames, retention deltas)
    silently mis-frames on sparse data unless gaps are materialized
    first; this is the operator that makes them dense.

    Plan: daily counts (one hash agg), then ONE more groupBy(user)
    that collects the user's (day, count) pairs into a map alongside
    min/max — and the dense span is emitted row-locally by exploding
    ``sequence(d0, d1)`` against that map. The naive formulation
    LEFT-JOINs a generated calendar grid back onto the counts, paying
    a shuffle of the DENSE grid; here densification happens after the
    last exchange, so shuffled bytes stay proportional to the SPARSE
    data. Per-user state is bounded by the span length in days — for
    multi-decade spans at 100 TB, range-bucket the span (year) first
    so no single row carries an unbounded array."""
    ev = t(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    packed = daily.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("day", "n"))
        ).alias("m"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    return packed.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        "m",
    ).select(
        "user_id",
        "day",
        F.coalesce(F.col("m")[F.col("day")], F.lit(0)).cast("long").alias(
            "n_events"
        ),
    )


_HIST_BUCKETS = 16


@query(
    "agg_histogram",
    # The bucket boundary arithmetic is written with the IDENTICAL
    # expression shape on both engines — ((v - lo) * 16) / (hi - lo),
    # then floor — so the IEEE double result (and thus every boundary
    # decision) is bit-identical; lo/hi are exact min/max (order-
    # independent). hi = lo (constant group) pins bucket 0 on both.
    oracle=f"""
        WITH stats AS (
            SELECT event_type, min(value) AS lo, max(value) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE least(CAST(floor((e.value - s.lo) * {_HIST_BUCKETS}
                                          / (s.hi - s.lo)) AS BIGINT),
                               {_HIST_BUCKETS - 1}) END AS bucket,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events e JOIN stats s USING (event_type)
        GROUP BY e.event_type, bucket
    """,
    tags=("agg", "analytics"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-depth: equi-width value histogram per group — the two-pass
    shape every metrics dashboard needs (distribution of report
    latencies / payload sizes, not just the A10 percentiles).

    Plan: pass 1 is a |groups|-row min/max aggregate that broadcasts
    back onto the stream (the winsorize pattern); pass 2 computes the
    bucket row-locally and aggregates |groups|×16 cells. Neither
    shuffle carries more than the group count × buckets. At 100 TB
    this beats a percentile-based histogram: min/max partials are
    constant-size where exact percentile state is value-set-sized."""
    ev = t(spark, sf_dir, "events", spread=True)
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo")) * _HIST_BUCKETS / (F.col("hi") - F.col("lo"))
            ),
            F.lit(_HIST_BUCKETS - 1).cast("long"),
        )
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_events"))
    )


_WAU_DAYS = 7

_WAU_ORACLE = f"""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day,
           CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN du ON du.day > d.day - {_WAU_DAYS} AND du.day <= d.day
    GROUP BY d.day
"""


@query("agg_rolling_wau", oracle=_WAU_ORACLE, tags=("agg", "timeseries"))
def agg_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct-count: per day, the distinct users active in
    the trailing 7-day window (WAU — the metric DAU/WAU/MAU
    dashboards are made of). DISTINCT does not distribute over a
    window frame, so the engine first collapses events to the
    (day, user) grain — the ONLY corpus-sized pass — then re-keys
    each active pair onto the ≤7 window days it serves via an in-scan
    ``explode(sequence(day, day+6))`` and distinct-counts per window
    day. The shuffle after the dense explode carries (days × users ×
    7) rows at most — day-grain, bounded, independent of raw event
    volume; nothing range-joins the fact table. Window days with no
    anchor activity are excluded on both sides (the oracle's
    days-with-activity join), keeping the row set pinned. At 100 TB
    the (day, user) collapse is the cost of one groupBy; swap the
    exact distinct for per-day HLL sketches + window-merge when users
    number in the billions and 1-2% error is acceptable."""
    ev = t(spark, sf_dir, "events", spread=True)
    du = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    serves = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), _WAU_DAYS - 1))
        ).alias("wday"),
        "user_id",
    )
    anchor_days = du.select(F.col("day").alias("wday")).distinct()
    return (
        serves.join(anchor_days, "wday", "left_semi")
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


_ENTROPY_ORACLE = """
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, sum(n) AS t FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(count(*) AS BIGINT) AS n_types,
           round(-sum((c.n * 1.0 / tot.t) * ln(c.n * 1.0 / tot.t)), 6)
               AS entropy
    FROM c JOIN tot USING (user_id)
    GROUP BY c.user_id
"""


@query("agg_entropy_per_group", oracle=_ENTROPY_ORACLE, tags=("agg", "stats"))
def agg_entropy_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution —
    the label-balance/diversity metric a training-data pipeline gates
    on (near-zero entropy = a user/source emitting one event type;
    ln(k) = uniform). Two hash aggregates, both map-side-combined:
    (user, type) counts — the only pass that sees raw events — then a
    per-user fold of −Σ p·ln p computed from the counts relation
    (users × types rows, ≤ a few per user). Nothing but built-ins; the
    shared 6-dp rounding is safe here by the round-7 criterion (ln
    outputs are generic transcendental doubles, never decimal-short,
    so no engine-divergent .5e-6 boundaries — unlike the EWMA case
    documented in ROUND_NOTES)."""
    ev = t(spark, sf_dir, "events", spread=True)
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("user_id")
    p = F.col("n") / F.sum("n").over(tot)
    return (
        c.withColumn("term", -p * F.log(p))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_types"),
            F.round(F.sum("term"), 6).alias("entropy"),
        )
    )


# Estimator seam (probed): Spark's skewness/kurtosis are POPULATION
# estimators (g1 = m3/m2^1.5, excess g2 = m4/m2² − 3) while DuckDB's
# builtins are the SAMPLE-adjusted G1/G2 — on (1,2,4,8): Spark
# 0.6568/−1.0990 vs DuckDB 1.1376/0.7577. The oracle therefore
# rebuilds the population form from raw central moments instead of
# calling DuckDB's builtins.
_SKEW_ORACLE = """
    WITH m AS (
        SELECT o_orderstatus,
               avg(o_totalprice) AS mu,
               avg(o_totalprice * o_totalprice) AS m2r,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus
    ),
    c AS (
        SELECT o.o_orderstatus,
               avg(pow(o.o_totalprice - m.mu, 2)) AS m2,
               avg(pow(o.o_totalprice - m.mu, 3)) AS m3,
               avg(pow(o.o_totalprice - m.mu, 4)) AS m4
        FROM orders o JOIN m ON o.o_orderstatus = m.o_orderstatus
        GROUP BY o.o_orderstatus
    )
    SELECT o_orderstatus,
           round(m3 / pow(m2, 1.5), 6) AS skew,
           round(m4 / (m2 * m2) - 3, 6) AS kurt
    FROM c
"""


@query("agg_skew_kurtosis", oracle=_SKEW_ORACLE, tags=("stats", "agg"))
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: third/fourth-moment shape statistics — ``skewness`` /
    ``kurtosis`` built-ins per order status (distribution-drift
    monitoring for the profile family). Both are single-pass
    moment aggregates (map-side combinable running moments), the same
    shuffle shape as avg/stddev. 6-dp rounding on both engines: the
    moments are generic doubles far from decimal boundaries (the
    agg_entropy_per_group criterion); the oracle's two-pass central-
    moment form and Spark's streaming one-pass updates agree to
    ~12 significant digits on this data."""
    o = t(spark, sf_dir, "orders", spread=True)
    return o.groupBy("o_orderstatus").agg(
        F.round(F.skewness("o_totalprice"), 6).alias("skew"),
        F.round(F.kurtosis("o_totalprice"), 6).alias("kurt"),
    )


_WMEDIAN_ORACLE = """
    WITH w AS (
        SELECT c_mktsegment, c_acctbal, c_custkey,
               c_custkey % 5 + 1 AS wt
        FROM customer
    ),
    cum AS (
        SELECT c_mktsegment, c_acctbal, wt,
               sum(wt) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey
                             ROWS UNBOUNDED PRECEDING) AS cw,
               sum(wt) OVER (PARTITION BY c_mktsegment) AS tot
        FROM w
    ),
    pick AS (
        SELECT c_mktsegment, c_acctbal, tot,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY cw) AS rn
        FROM cum WHERE 2 * cw >= tot
    )
    SELECT c_mktsegment,
           c_acctbal AS weighted_median,
           CAST(tot AS BIGINT) AS total_weight
    FROM pick WHERE rn = 1
"""


@query("agg_weighted_median", oracle=_WMEDIAN_ORACLE, tags=("stats", "agg"))
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: weighted median per group — the lower weighted median
    (first value whose cumulative weight reaches half the total) with
    a deterministic (value, key) ordering, so the answer is an EXACT
    input double: no interpolation arithmetic, no float drift, exact
    hash-check. One exchange on the group key serves both window
    passes and the pick; weights are derived integers so the
    cumulative sums are exact BIGINTs. (The unweighted case is
    A10's percentile family; weighted quantiles at 100 TB ride the
    same shape or the KLL sketch when one pass must suffice.)"""
    from pyspark.sql.window import Window

    c = t(spark, sf_dir, "customer", spread=True).select(
        "c_mktsegment",
        "c_acctbal",
        "c_custkey",
        (F.col("c_custkey") % 5 + 1).alias("wt"),
    )
    cum = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.sum("wt")
        .over(
            Window.partitionBy("c_mktsegment")
            .orderBy("c_acctbal", "c_custkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cw"),
        F.sum("wt").over(Window.partitionBy("c_mktsegment")).alias("tot"),
    )
    pick = cum.filter(2 * F.col("cw") >= F.col("tot")).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("c_mktsegment").orderBy("cw")),
    )
    return pick.filter(F.col("rn") == 1).select(
        "c_mktsegment",
        F.col("c_acctbal").alias("weighted_median"),
        F.col("tot").cast("bigint").alias("total_weight"),
    )


_HYPERTABLE_ORACLE = """
    WITH raw AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    )
    SELECT 'minute' AS grain, date_trunc('minute', ts) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS DOUBLE) AS total_value
    FROM raw GROUP BY 2
    UNION ALL
    SELECT 'hour', date_trunc('hour', ts), CAST(count(*) AS BIGINT),
           CAST(sum(v) AS DOUBLE)
    FROM raw GROUP BY 2
    UNION ALL
    SELECT 'day', date_trunc('day', ts), CAST(count(*) AS BIGINT),
           CAST(sum(v) AS DOUBLE)
    FROM raw GROUP BY 2
"""


@query("agg_hypertable_rollup", oracle=_HYPERTABLE_ORACLE, tags=("agg", "rollup", "timeseries"))
def agg_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate LATTICE: the minute grain
    is computed from raw events ONCE; the hour grain re-aggregates the
    minute PARTIALS and the day grain re-aggregates the hour partials —
    raw data is scanned exactly once no matter how many grains the
    lattice serves (the TimescaleDB continuous-aggregate /
    materialized-rollup pattern; at 100 TB the coarser grains read
    ~1/60th and ~1/1440th of the rows the naive three-scan form
    re-reads). The oracle computes every grain DIRECTLY from raw, so
    the hash attests the lattice property itself: re-aggregating
    partials must equal recomputation — true only because the sums
    accumulate in DECIMAL (a double sum is partial-order-dependent and
    would drift between the two derivations).

    Composes with cdc_incremental_agg (S7i): maintain the minute grain
    incrementally per batch, and the coarser grains stay derivable
    from it without ever touching history."""
    raw = t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    # Persisted partials make the one-scan lattice REAL: without them
    # each union branch re-derives its parent grain from raw (verified:
    # the unpersisted static plan holds THREE parquet scans — lazy
    # lineage quietly re-reads raw per grain; AQE exchange reuse is not
    # guaranteed across the union branches). At 100 TB the persist is a
    # write to the rollup table itself.
    minute = scoped_persist(
        raw.groupBy(F.date_trunc("minute", "ts").alias("bucket_start")).agg(
            F.count("*").alias("n_events"), F.sum("v").alias("sv")
        )
    )
    hour = scoped_persist(
        minute.groupBy(
            F.date_trunc("hour", "bucket_start").alias("bucket_start")
        ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    )
    day = hour.groupBy(
        F.date_trunc("day", "bucket_start").alias("bucket_start")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))

    def shaped(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_start",
            "n_events",
            F.col("sv").cast("double").alias("total_value"),
        )

    return shaped(minute, "minute").unionByName(shaped(hour, "hour")).unionByName(
        shaped(day, "day")
    )


_ANOM_WINDOW_DAYS = 7  # trailing baseline frame (excludes the current day)
_ANOM_MIN_BASELINE = 3  # no verdict until the baseline holds >= 3 days
_ANOM_K = 2  # flag |count - mean| > K * stddev

_ANOM_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, day, c,
               count(*) OVER w AS n,
               sum(c) OVER w AS s1,
               sum(c * c) OVER w AS s2
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_ANOM_WINDOW_DAYS} PRECEDING
                              AND 1 PRECEDING)
    ),
    flagged AS (
        SELECT event_type, day,
               CASE WHEN n >= {_ANOM_MIN_BASELINE}
                         AND (c*n - s1)*(c*n - s1)
                             > {_ANOM_K * _ANOM_K}*(n*s2 - s1*s1)
                    THEN 1 ELSE 0 END AS is_anom
        FROM win
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(is_anom) AS BIGINT) AS n_anomalies,
           CAST(sum(CASE WHEN is_anom = 1
                         THEN day - DATE '1970-01-01' ELSE 0 END)
                AS BIGINT) AS anom_day_sum
    FROM flagged GROUP BY event_type
"""


@query("events_anomaly_days", oracle=_ANOM_ORACLE, tags=("stats", "timeseries"))
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-domain depth: daily event-count ANOMALY detection —
    flag any (event_type, day) whose count sits more than K = 2
    standard deviations from its trailing-7-day baseline (the alerting
    pass a monitoring store like the reference's job table feeds). The
    z-score test is evaluated as an EXACT-INTEGER inequality:
    (c·n − s1)² > K²·(n·s2 − s1²) over BIGINT count sums — multiplying
    the mean/variance definitions through by n² eliminates every
    division, so there is NO float anywhere and both engines flag the
    identical day set by construction (a float z-score at a 6-dp
    boundary is exactly the seam the temperature-mixture op had to
    quantize away; here the domain is counts, so exactness is free).
    Baselines shorter than {_ANOM_MIN_BASELINE} days return no
    verdict. ``anom_day_sum`` (epoch-day sum of flagged days) pins
    WHICH days fired, not just how many.

    Scale shape: one map-side-combinable (type, day) count, then one
    type-keyed exchange shared by the trailing window and the final
    per-type aggregate — daily-grain rows, so the window state is
    365·|types| per year regardless of corpus size."""
    daily = (
        t(spark, sf_dir, "events", spread=True)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_ANOM_WINDOW_DAYS, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("c").over(w)
    s2 = F.sum(F.col("c") * F.col("c")).over(w)
    lhs = (F.col("c") * n - s1) * (F.col("c") * n - s1)
    rhs = F.lit(_ANOM_K * _ANOM_K) * (n * s2 - s1 * s1)
    flagged = daily.select(
        "event_type",
        "day",
        F.when((n >= _ANOM_MIN_BASELINE) & (lhs > rhs), 1)
        .otherwise(0)
        .alias("is_anom"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("is_anom").cast("long").alias("n_anomalies"),
        F.sum(
            F.when(
                F.col("is_anom") == 1,
                F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("anom_day_sum"),
    )


_AB_K = 2  # two-proportion flag at |z| > 2 (~95%)

_AB_ORACLE = f"""
    WITH variants AS (
        SELECT user_id, user_id % 2 AS variant FROM events GROUP BY 1
    ),
    sizes AS (
        SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM variants
    ),
    converted AS (
        SELECT event_type,
               CAST(count(DISTINCT CASE WHEN user_id % 2 = 0
                                        THEN user_id END) AS BIGINT) AS c0,
               CAST(count(DISTINCT CASE WHEN user_id % 2 = 1
                                        THEN user_id END) AS BIGINT) AS c1
        FROM events GROUP BY event_type
    )
    SELECT event_type, n0, c0, n1, c1,
           (c0*n1 - c1*n0)*(c0*n1 - c1*n0)*(n0 + n1)
               > {_AB_K * _AB_K}*(c0 + c1)*(n0 + n1 - c0 - c1)*n0*n1
               AS significant
    FROM converted, sizes
"""


@query("agg_ab_significance", oracle=_AB_ORACLE, tags=("stats",))
def agg_ab_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: two-proportion A/B significance flags — per event_type,
    does the conversion rate (distinct users who did the event at
    least once) differ between the two experiment arms (user_id
    parity) by more than two pooled standard errors? The experiment
    readout every product-analytics pipeline runs over an event
    stream. Like events_anomaly_days, the z-test is an EXACT-INTEGER
    inequality — (c0·n1 − c1·n0)²·N > K²·C·(N−C)·n0·n1 is the pooled
    two-proportion z² cleared of every division — so both engines
    flag identically by construction; the count columns carry the
    hash load even when no arm difference is significant (the
    expected outcome for a parity split: the unit test constructs
    both verdicts).

    Scale shape: one distinct collapse to (type, user) + one to
    (user) — both map-side combinable; the arm sizes are a 1-row
    broadcast into the per-type relation."""
    ev = t(spark, sf_dir, "events", spread=True)
    sizes = (
        ev.select("user_id").distinct()
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n0"),
            F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
        )
    )
    conv = ev.groupBy("event_type").agg(
        F.countDistinct(
            F.when(F.col("user_id") % 2 == 0, F.col("user_id"))
        ).alias("c0"),
        F.countDistinct(
            F.when(F.col("user_id") % 2 == 1, F.col("user_id"))
        ).alias("c1"),
    )
    j = conv.crossJoin(F.broadcast(sizes))
    diff = F.col("c0") * F.col("n1") - F.col("c1") * F.col("n0")
    n_tot = F.col("n0") + F.col("n1")
    c_tot = F.col("c0") + F.col("c1")
    sig = (diff * diff * n_tot) > (
        F.lit(_AB_K * _AB_K)
        * c_tot
        * (n_tot - c_tot)
        * F.col("n0")
        * F.col("n1")
    )
    return j.select(
        "event_type", "n0", "c0", "n1", "c1", sig.alias("significant")
    )


_PATH_N = 5  # journey prefix length
_PATH_TOPK = 10

_PATH_ORACLE = f"""
    WITH firstn AS (
        SELECT user_id, event_type, rn FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY CAST(ts AS TIMESTAMP),
                                               event_id) AS rn
            FROM events
        ) WHERE rn <= {_PATH_N}
    ),
    paths AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM firstn GROUP BY user_id
    ),
    counts AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM paths GROUP BY path
    )
    SELECT path, n_users,
           CAST(row_number() OVER (ORDER BY n_users DESC, path) AS INT)
               AS rank
    FROM counts ORDER BY n_users DESC, path LIMIT {_PATH_TOPK}
"""


@query("agg_user_path_topk", oracle=_PATH_ORACLE, tags=("agg", "events"))
def agg_user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28: top-k user JOURNEY paths — the onboarding-funnel readout
    ("what do the first {n} events of a session actually look like"):
    each user's first {n} events by the (ts, event_id) total order
    collapse to one '>'-joined path string; count users per path; rank
    the top {k} with a (count desc, path) tie-break so both engines
    pick the identical rows. Complements window_event_transitions
    (pairwise Markov edges) with whole-prefix sequence frequencies —
    edges can look healthy while a specific 5-step path dominates.

    Scale shape: ONE user-keyed exchange serves the prefix window and
    the path fold (same partitioning); the path-count aggregate is
    map-side combinable; the final top-k runs TakeOrdered on the
    path-grain relation (bounded driver result, no global sort
    materialization)."""
    e = t(spark, sf_dir, "events", spread=True)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstn = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_N)
    )
    paths = firstn.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    top = counts.orderBy(F.col("n_users").desc(), "path").limit(_PATH_TOPK)
    wr = Window.orderBy(F.col("n_users").desc(), "path")
    return top.select(
        "path", "n_users", F.row_number().over(wr).cast("int").alias("rank")
    )


_TTE_ORACLE = """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v_us,
               min(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p_us
        FROM events GROUP BY user_id
    ),
    lat AS (
        SELECT user_id, (p_us - v_us) // 1000000 AS lat_s
        FROM firsts
        WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us > v_us
    )
    SELECT CASE WHEN lat_s < 3600 THEN 'lt_1h'
                WHEN lat_s < 86400 THEN 'lt_1d'
                WHEN lat_s < 604800 THEN 'lt_7d'
                ELSE 'ge_7d' END AS band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(lat_s) AS BIGINT) AS total_latency_s
    FROM lat GROUP BY band
"""


@query("window_time_to_event", oracle=_TTE_ORACLE, tags=("window", "events"))
def window_time_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: TIME-TO-EVENT (conversion latency) — the funnel-speed
    readout: per user, the gap between the FIRST 'view' and the FIRST
    'purchase' (users whose first purchase precedes any view are
    pre-converted and excluded — the rule that makes the metric a
    latency, not a signed confusion), banded into the dashboard's
    hour/day/week buckets with the exact total latency per band. All
    arithmetic is exact epoch-microsecond integers floored to seconds;
    band edges compare integers, so both engines bucket identically.

    Scale shape: ONE map-side-combinable conditional-min aggregate
    over the scan collapses the corpus to user grain; the band
    aggregate runs on that (4 output rows). No window function needed
    at all — the survival-analysis shape (per-user covariates → small
    banded summary) is two pure aggregates."""
    e = t(spark, sf_dir, "events", spread=True)
    # ts reads as TIMESTAMP_NTZ; unix_micros wants TIMESTAMP. The cast
    # applies the session timezone, but the metric is a DIFFERENCE of
    # two timestamps from the same column, so any constant offset
    # cancels — the latency is timezone-immune by construction.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    lat = firsts.filter(
        F.col("v_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") > F.col("v_us"))
    ).select(F.expr("(p_us - v_us) div 1000000").alias("lat_s"))
    band = (
        F.when(F.col("lat_s") < 3600, "lt_1h")
        .when(F.col("lat_s") < 86400, "lt_1d")
        .when(F.col("lat_s") < 604800, "lt_7d")
        .otherwise("ge_7d")
    )
    return lat.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("lat_s").cast("long").alias("total_latency_s"),
    )


_DECAY_ANCHOR_DAY = 20089  # 2025-01-01, just past the fixture's 2024 span
_DECAY_HALFLIFE_D = 7  # half-life in days; the halving block below
_DECAY_MICRO = 1_000_000
# floor(10^6 * 0.5^(r/7)) for r = 0..6, computed once at 60-digit
# decimal precision and frozen as literals: together with exact
# halving per 7-day block they replace pow() entirely. The nested
# floor identity floor(x / 2^q) = floor(floor(x) / 2^q) makes
# M[r] >> q EQUAL to floor(10^6 * 0.5^(age/7)) — the same weights as
# the original pow formula, but with zero libm calls on either
# engine, so no 1-ulp JVM-vs-C boundary flip is possible at ANY age
# (ADVICE r11). Weights are 0 for q >= 20 (10^6 < 2^20), which also
# keeps the shift amount bounded.
_DECAY_FRAC = (1000000, 905723, 820335, 742997, 672950, 609506, 552044)
_DECAY_FRAC_CASE = (
    "CASE (({age}) % 7) "
    + " ".join(f"WHEN {r} THEN {m}" for r, m in enumerate(_DECAY_FRAC))
    + " END"
)
# age < 0 (an event AFTER the scoring anchor) is out of contract —
# raise loudly on both engines instead of extrapolating a >1 weight.
_DECAY_W_SQL = (
    "CASE WHEN ({age}) < 0 THEN CAST({err} AS BIGINT) "
    "WHEN ({age}) // 7 >= 20 THEN 0 "
    "ELSE (" + _DECAY_FRAC_CASE + ") >> CAST(({age}) // 7 AS INTEGER) END"
)

_DECAY_AGE_DUCK = (
    f"({_DECAY_ANCHOR_DAY} - (CAST(CAST(ts AS TIMESTAMP) AS DATE)"
    " - DATE '1970-01-01'))"
)

_DECAY_ORACLE = f"""
    WITH e AS (
        SELECT user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               CAST({_DECAY_W_SQL.format(
                   age=_DECAY_AGE_DUCK,
                   err="error('agg_decay_weighted: event after anchor')")}
                   AS BIGINT) AS w
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w) AS BIGINT) AS recency_score,
           CAST(sum(cents * w) AS BIGINT) AS weighted_cents_micro
    FROM e GROUP BY user_id
"""


@query("agg_decay_weighted", oracle=_DECAY_ORACLE, tags=("agg", "events"))
def agg_decay_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29: exponentially time-DECAYED engagement — the recency-
    weighted score behind churn models and "active user" definitions
    that a plain count can't express: each event contributes
    0.5^(age_days/7) (one-week half-life against a fixed anchor date),
    so last week's activity dominates last quarter's. Emits per user
    the raw count, the decayed activity score, and the decay-weighted
    revenue.

    Cross-engine float seam, CLOSED rather than pinned (ADVICE r11):
    the weight floor(10^6 * 0.5^(age/7)) is computed with NO pow()
    call at all — age = 7q + r decomposes the decay into exact
    integer halving (shiftright by q) of a frozen 7-entry lookup
    M[r] = floor(10^6 * 0.5^(r/7)); the nested-floor identity makes
    M[r] >> q equal to the original formula for every age, so the
    engines agree by construction with zero libm involvement (the
    old version floored a JVM-vs-C pow that could flip a micro-unit
    boundary by 1 ulp). Events dated after the anchor raise on both
    engines (raise_error / error) instead of extrapolating. The
    anchor is a CONSTANT (no corpus-max-day broadcast), which is also
    the production shape: scoring runs against "now", not against the
    data's own horizon.

    Scale shape: one map-side-combinable groupBy(user) over the scan —
    the decay expression is per-row JVM codegen; nothing else
    shuffles."""
    age_sql = (
        f"({_DECAY_ANCHOR_DAY} - datediff(to_date(ts), DATE '1970-01-01'))"
    )
    frac_case = _DECAY_FRAC_CASE.format(age=age_sql)
    w = F.expr(
        f"CASE WHEN {age_sql} < 0 THEN "
        "CAST(raise_error('agg_decay_weighted: event after anchor') AS BIGINT) "
        f"WHEN {age_sql} div 7 >= 20 THEN CAST(0 AS BIGINT) "
        f"ELSE shiftright(CAST({frac_case} AS BIGINT), "
        f"CAST({age_sql} div 7 AS INT)) END"
    )
    e = t(spark, sf_dir, "events", spread=True).select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        w.alias("w"),
    )
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("w").cast("long").alias("recency_score"),
        F.sum(F.col("cents") * F.col("w")).cast("long").alias("weighted_cents_micro"),
    )


_CHI2_K100 = 1259  # chi-square 0.05 critical value for df=6, x100

_DOW_CHI2_ORACLE = f"""
    WITH d AS (
        SELECT event_type,
               dayofweek(CAST(ts AS TIMESTAMP)) AS dow
        FROM events
    ),
    per AS (
        SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
        FROM d GROUP BY event_type, dow
    ),
    tot AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS n,
               CAST(sum((7 * o - (SELECT sum(o) FROM per p2
                                  WHERE p2.event_type = per.event_type))
                        * (7 * o - (SELECT sum(o) FROM per p2
                                    WHERE p2.event_type = per.event_type)))
                    AS BIGINT) AS ss
        FROM per GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(ss AS BIGINT) AS chi2_numer,
           CAST(CASE WHEN 100 * ss > {_CHI2_K100} * 7 * n
                     THEN 1 ELSE 0 END AS INTEGER) AS is_nonuniform
    FROM tot
"""


@query("events_dow_chi2", oracle=_DOW_CHI2_ORACLE, tags=("agg", "events", "monitoring"))
def events_dow_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30 (monitoring domain): day-of-week SEASONALITY gate — per
    event type, a chi-square uniformity test over the weekday
    distribution, the "is this metric seasonal before I alert on it"
    pre-check the anomaly detector (events_anomaly_days) needs. Same
    template as the z-test family: the statistic is cleared of every
    division into an exact-BIGINT inequality —
    chi2 = Σ(o_i − n/7)²/(n/7) > K becomes 100·Σ(7·o_i − n)² >
    K₁₀₀·7·n — so both engines flag the identical types by
    construction, and `chi2_numer` pins the full statistic, not just
    the verdict. Weekday numbering: Spark ``dayofweek`` and DuckDB
    ``dayofweek`` disagree (1-7 Sun-first vs 0-6 Sun-first), but the
    statistic is PERMUTATION-INVARIANT over the 7 cells, so the seam
    cancels structurally — documented rather than patched.

    Cell convention: the statistic sums over PRESENT (type, dow)
    cells only — identically on both engines. When all 7 weekdays
    occur (true for every type at every SF: the fixture spans a year)
    this IS the full chi-square numerator; a type so sparse that a
    weekday is entirely absent under-counts by n² per missing cell on
    BOTH engines alike (deterministic, hash-safe), and the unit test
    pins that present-cell arithmetic explicitly with a one-weekday
    distribution.

    Scale shape: one map-side-combinable (type, dow) count, a 7-row-
    per-type window + second aggregate sharing its exchange, nothing
    else."""
    e = t(spark, sf_dir, "events", spread=True).select(
        "event_type",
        F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
    )
    per = e.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    w = Window.partitionBy("event_type")
    per2 = per.select(
        "event_type",
        "o",
        F.sum("o").over(w).cast("long").alias("n"),
    )
    dev = (7 * F.col("o") - F.col("n"))
    tot = per2.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(dev * dev).cast("long").alias("chi2_numer"),
    )
    return tot.select(
        "event_type",
        "n",
        "chi2_numer",
        F.when(
            100 * F.col("chi2_numer") > _CHI2_K100 * 7 * F.col("n"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_nonuniform"),
    )


_NTILE_LOCAL_MASK = (1 << 33) - 1  # monotonically_increasing_id: pid<<33 | row


def two_pass_ntile(
    df: DataFrame,
    order_cols,
    n_buckets: int,
    out_col: str,
    size_hint: int | None = None,
) -> DataFrame:
    """Global ``ntile(n_buckets)`` over ``order_cols`` WITHOUT the
    single-partition WindowExec Spark plans for an unpartitioned
    window (VERDICT r13 task 3): range-repartition on the sort key,
    sort within partitions, derive each row's global rank from a
    broadcast |partitions|-row offset relation, and assign the bucket
    by ntile's closed-form remainder convention (the first n % k
    buckets absorb one extra row each), so the output is
    hash-identical to ``F.ntile`` over the same total order — callers
    must include a unique tie-break column so the order is total and
    the result deterministic under any partitioning.

    Mechanics: ``monotonically_increasing_id`` evaluated AFTER the
    in-partition sort encodes (partition << 33 | local row), so
    partition id and local index come for free; the sorted relation is
    persisted so the count pass and the probe pass see the SAME ids
    (the id expression is nondeterministic, which also stops Catalyst
    from pushing it below the sort). Per-partition counts become
    exclusive prefix offsets via a bounded |partitions|² broadcast
    theta-join — NO WindowExec anywhere in the plan — and
    offset + local index + 1 IS the global rank. The n < k edge keeps
    ntile's row-per-bucket behavior: cut = n, every row takes the THEN
    branch, the ELSE branch's base=0 division is never evaluated.

    Scale shape: ONE range shuffle of the input grain (the price of
    exact rank-based bucketing), one map-side-combinable count of the
    cached relation, two broadcasts of |partitions|-sized relations,
    zero driver collects. At 100 TB with 10k partitions the theta-join
    is 10k×10k on two broadcast relations — still sub-second — and no
    single task ever holds more than its range slice.

    ``size_hint`` is an optional UPPER BOUND on ``df``'s row count
    that the caller already has for free (a parquet metadata count of
    the source table, or the FK-domain table the grouping key draws
    from). When the bound says the relation fits one partition
    (``session.partitions_for(size_hint) == 1``), the range exchange
    is pinned to ONE partition: the range-bounds
    sampling pass, the session-default fan of near-empty range
    partitions, and the |partitions|² offset join all collapse, while
    the plan SHAPE (rangepartitioning exchange → sort → offset
    broadcast join → closed-form bucket, no WindowExec) is unchanged —
    the two-pass construction is partitioning-independent by its
    equivalence proof, so the output is hash-identical. No hint, or a
    bound above the threshold, keeps the session-default behavior —
    at cluster scale the hint is the table row count and the branch
    never fires."""
    if size_hint is not None and partitions_for(size_hint) == 1:
        srt = df.repartitionByRange(1, *order_cols).sortWithinPartitions(*order_cols)
    else:
        srt = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    mid = scoped_persist(srt.withColumn("_mid", F.monotonically_increasing_id()))
    parts = mid.groupBy(F.shiftright("_mid", 33).alias("_pid")).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    other = parts.select(F.col("_pid").alias("_bpid"), F.col("_cnt").alias("_bcnt"))
    # One |partitions|² pass carries BOTH the exclusive prefix offset
    # and the grand total, so the probe needs a single broadcast
    # instead of offset + total broadcasts (one fewer job per call).
    off = (
        parts.crossJoin(F.broadcast(other))
        .groupBy("_pid")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_bpid") < F.col("_pid"), F.col("_bcnt"))),
                F.lit(0),
            )
            .cast("long")
            .alias("_off"),
            F.sum("_bcnt").cast("long").alias("_n"),
        )
    )
    k = int(n_buckets)
    ranked = mid.join(
        F.broadcast(off), F.shiftright("_mid", 33) == F.col("_pid")
    ).withColumn(
        "_rk",
        F.col("_off") + F.col("_mid").bitwiseAND(F.lit(_NTILE_LOCAL_MASK)) + 1,
    )
    bucket = (
        f"CAST(CASE WHEN _rk <= (_n % {k}) * ((_n DIV {k}) + 1)"
        f" THEN ((_rk - 1) DIV ((_n DIV {k}) + 1)) + 1"
        f" ELSE (_n % {k})"
        f"      + ((_rk - (_n % {k}) * ((_n DIV {k}) + 1) - 1) DIV (_n DIV {k}))"
        f"      + 1 END AS INT)"
    )
    return ranked.withColumn(out_col, F.expr(bucket)).drop(
        "_mid", "_pid", "_off", "_n", "_rk"
    )


_RFM_ANCHOR_DAY = 20089  # the decay operator's fixed scoring anchor

_RFM_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id,
               {_RFM_ANCHOR_DAY}
                 - max(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                       - DATE '1970-01-01') AS recency_d,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(recency_d AS BIGINT) AS recency_d, frequency,
           monetary_cents,
           CAST(ntile(5) OVER (ORDER BY recency_d DESC, user_id) AS INTEGER)
               AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id) AS INTEGER)
               AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, user_id)
                AS INTEGER) AS m_score
    FROM per_user
"""


@query("window_rfm_scores", oracle=_RFM_ORACLE, tags=("window", "events"))
def window_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: RFM segmentation — the classic recency/frequency/monetary
    quintile scores (5 = best) marketing segmentation runs on every
    customer base. Raw metrics are exact integers (epoch-day recency
    against the fixed scoring anchor, count, cent sums); scores are
    rank-based ``ntile(5)`` with a user_id tie-break, so bucket
    boundaries are deterministic row positions — no quantile
    interpolation float to disagree on, and both engines share the
    same ntile convention (earlier buckets absorb the remainder) —
    here reproduced from the two-pass global rank via
    :func:`two_pass_ntile`'s closed-form remainder formula.

    Scale shape: the corpus collapses to user grain in one map-side-
    combinable aggregate; each quintile is then a genuinely
    RANGE-PARTITIONED two-pass rank of the user-grain relation
    (range shuffle → local sort → broadcast |partitions|-row offset
    cumsum → closed-form bucket), so no single task ever sorts the
    whole customer base — the plan pin asserts NO unpartitioned
    WindowExec survives. Three orderings → three range shuffles of
    users, not events, and that is the price of exact rank-based
    scoring; the cheaper production variant broadcasts approximate
    quintile boundaries and assigns by comparison, which trades the
    sort for an interpolation seam this operator deliberately
    avoids."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    per_user = (
        t(spark, sf_dir, "events", spread=True)
        .select(
            "user_id",
            day.alias("d"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            (F.lit(_RFM_ANCHOR_DAY) - F.max("d")).cast("long").alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
    )
    # size_hint: the EXACT user-grain count, from persisting the
    # per-user rollup and counting it. r15 measured persist-the-input
    # alone as a loss (exchange reuse already shared the rollup); the
    # trade reverses now that the count unlocks two_pass_ntile's
    # single-partition path for all THREE orderings (2.94 -> 1.98 s
    # min-of-5 at sf0.1, outputs identical). At scale the persist is
    # a user-grain relation reused by three range shuffles — the
    # classic persist criterion — and the hint is off past 100k users.
    per_user = scoped_persist(per_user)
    n_users = per_user.count()
    scored = two_pass_ntile(
        per_user,
        [F.col("recency_d").desc(), F.col("user_id")],
        5,
        "r_score",
        size_hint=n_users,
    )
    scored = two_pass_ntile(
        scored,
        [F.col("frequency").asc(), F.col("user_id")],
        5,
        "f_score",
        size_hint=n_users,
    )
    scored = two_pass_ntile(
        scored,
        [F.col("monetary_cents").asc(), F.col("user_id")],
        5,
        "m_score",
        size_hint=n_users,
    )
    return scored.select(
        "user_id",
        "recency_d",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
    )


_MAD_ORACLE = """
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS m
        FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(count(*) AS BIGINT) AS n,
           max(med.m) AS median_cents,
           quantile_cont(abs(c.cents - med.m), 0.5) AS mad_cents
    FROM c JOIN med USING (event_type)
    GROUP BY c.event_type
"""


@query("agg_mad_robust", oracle=_MAD_ORACLE, tags=("agg", "stats", "percentile"))
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31: MEDIAN ABSOLUTE DEVIATION per group — the robust scale
    estimate (50% breakdown point) that stddev-based alerting lacks
    (one fat-fingered value moves a stddev threshold; it cannot move
    the MAD), completing the robust-statistics shelf next to
    window_winsorize (robust location) and window_rolling_median
    (robust smoothing). Two exact-percentile passes: the per-group
    median of cents, then the median of absolute deviations from it —
    cents are integers, both medians interpolate to integers or exact
    .5 halves, and abs-differences of those stay exactly
    representable, so Spark ``percentile`` and DuckDB ``quantile_cont``
    agree bit-for-bit with no rounding pin.

    Scale shape: the window_winsorize trade — percentile AGGREGATE per
    group (exact percentile state is heavy but per-GROUP, never
    per-row), groups-sized relation broadcast back onto a rescan for
    the deviation pass; at 100 TB the rescan is the cheap side and AQE
    plans the 5-row join as broadcast unasked."""
    c = t(spark, sf_dir, "events", spread=True).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("m")
    )
    return (
        c.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("m").alias("median_cents"),
            F.expr("percentile(abs(cents - m), 0.5)").alias("mad_cents"),
        )
    )


_GINI_ORACLE = """
    WITH spend AS (
        SELECT c.c_nationkey AS nationkey,
               o.o_custkey AS custkey,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT nationkey, cents,
               row_number() OVER (PARTITION BY nationkey
                                  ORDER BY cents, custkey) AS i,
               count(*) OVER (PARTITION BY nationkey) AS n,
               sum(cents) OVER (PARTITION BY nationkey) AS tot
        FROM spend
    )
    SELECT nat.n_name AS nation,
           CAST(max(r.n) AS BIGINT) AS n_customers,
           CAST(max(r.tot) AS BIGINT) AS total_cents,
           CAST((CAST(sum((2 * r.i - r.n - 1) * r.cents) AS HUGEINT)
                 * 1000000)
                // (CAST(max(r.n) AS HUGEINT) * CAST(max(r.tot) AS HUGEINT))
                AS BIGINT) AS gini_micro
    FROM ranked r JOIN nation nat ON r.nationkey = nat.n_nationkey
    GROUP BY nat.n_name
"""


def gini_per_group(spend: DataFrame, key: str, ord_col: str, val: str) -> DataFrame:
    """Exact Gini concentration per ``key`` group over BIGINT ``val``
    masses: floor(1e6 * Σ(2i−n−1)·x_(i) / (n·Σx)) with the ascending
    sort tie-broken on ``ord_col`` so both engines rank identically.

    The 1e6 scale-up runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB):
    the BIGINT numerator bound n·Σx already reaches ~5e15 at sf1, so
    multiplying by 1e6 inside 64 bits would overflow around sf0.1-sf1
    — the text_pmi_collocations overflow lesson (ADVICE r11) applied
    at design time instead of patched after. The Σ(2i−n−1)·x sum
    ITSELF also accumulates in DECIMAL(38,0): Spark sums longs as
    long (silent wraparound in non-ANSI mode) while DuckDB sums into
    HUGEINT, so a BIGINT accumulator would diverge silently past
    roughly sf1 (ADVICE r12) — the summand is promoted before the
    grouped sum so both engines carry exact wide integers end-to-end.
    Floor-division is spelled (a − a % b) / b, which DECIMAL division
    evaluates exactly for positive integral operands, matching
    HUGEINT ``//``."""
    w = Window.partitionBy(key)
    ranked = spend.select(
        key,
        val,
        F.row_number().over(w.orderBy(F.col(val), F.col(ord_col))).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(val).over(w).alias("tot"),
    )
    return (
        ranked.groupBy(key)
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.max("tot").cast("long").alias("total_mass"),
            F.sum(
                (2 * F.col("i") - F.col("n") - 1).cast("decimal(19,0)")
                * F.col(val)
            ).alias("num"),
        )
        .select(
            key,
            "n_members",
            "total_mass",
            F.expr(
                "CAST(((CAST(num AS DECIMAL(38,0)) * 1000000)"
                " - ((CAST(num AS DECIMAL(38,0)) * 1000000)"
                "    % (CAST(n_members AS DECIMAL(38,0))"
                "       * CAST(total_mass AS DECIMAL(38,0)))))"
                " / (CAST(n_members AS DECIMAL(38,0))"
                "    * CAST(total_mass AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("gini_micro"),
        )
    )


@query("agg_gini_concentration", oracle=_GINI_ORACLE, tags=("agg", "stats"))
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32: GINI COEFFICIENT per nation over customer spend — the
    standard inequality/concentration measure (0 = every customer
    spends equally, →1 = one customer carries the nation), the revenue-
    concentration dashboard number next to agg_entropy_per_group's
    diversity and window_rfm_scores' per-user value tiers. Fully exact:
    spend is BIGINT cents, the rank formulation Σ(2i−n−1)·x_(i)/(n·Σx)
    needs one sort per group, and the only non-BIGINT step (the 1e6
    micro scale-up) runs in DECIMAL(38,0)/HUGEINT so no engine ever
    rounds — see ``gini_per_group``.

    Plan: customer⋈orders broadcast join (customer is the dim side at
    this grain after aggregation — orders shuffles once on o_custkey
    for the per-customer rollup), one nation-keyed window sort, one
    final nation aggregate, nation-name broadcast. At 100 TB the
    per-customer rollup is the only corpus-sized exchange; the window
    operates on the customer-grain relation (3 orders of magnitude
    smaller) and the rank sort parallelizes per nation."""
    o = t(spark, sf_dir, "orders", spread=True)
    c = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    g = gini_per_group(spend, "nationkey", "custkey", "cents")
    return (
        g.join(F.broadcast(nat), g.nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_members").alias("n_customers"),
            F.col("total_mass").alias("total_cents"),
            "gini_micro",
        )
    )


_CUSUM_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    scoped AS (
        SELECT event_type, day, x,
               count(*) OVER (PARTITION BY event_type) AS n_days,
               sum(x) OVER (PARTITION BY event_type) AS tot
        FROM daily
    ),
    walked AS (
        SELECT event_type, day, n_days, tot,
               sum(n_days * x - tot) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM scoped
    ),
    cu AS (
        SELECT event_type, day, n_days, tot,
               s - least(CAST(0 AS BIGINT), min(s) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
        FROM walked
    ),
    ranked AS (
        SELECT event_type, day, n_days, tot, cusum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cusum DESC, day) AS rn
        FROM cu
    )
    SELECT event_type,
           CAST(max(n_days) AS BIGINT) AS n_days,
           CAST(max(tot) AS BIGINT) AS total_events,
           CAST(max(cusum) AS BIGINT) AS peak_cusum_scaled,
           max(CASE WHEN rn = 1 THEN day END) AS peak_day,
           CAST(sum(CASE WHEN cusum > tot THEN 1 ELSE 0 END) AS BIGINT)
               AS drift_days
    FROM ranked GROUP BY event_type
"""


@query("events_cusum_drift", oracle=_CUSUM_ORACLE, tags=("stats", "window", "events"))
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33: one-sided CUSUM drift detection over daily event volume —
    the classic sequential change-point statistic (Page 1954): per
    event type, accumulate daily deviations above the mean and flag
    sustained upward drift that a single-day z-score (events_anomaly_
    days) cannot see because no individual day is extreme.

    The textbook recurrence c_i = max(0, c_{i-1} + dev_i) is not a
    window aggregate, but it has a closed window form: with S_i the
    running sum of deviations, c_i = S_i − min(0, min_{j≤i} S_j) —
    one running SUM plus one running MIN over the same sorted pass,
    so the whole statistic costs a single day-grain window, no
    recursion, no UDF. Everything stays exact BIGINT by scaling
    deviations to dev_i = n_days·x_i − total (mean-centering without
    division); the drift threshold is one average day's mass, which
    in that scale is exactly ``total``.

    Plan: the corpus collapses to (type, day) grain FIRST — the only
    corpus-sized pass is that map-side-combinable aggregate; the two
    stacked running windows, the peak-rank window, and the final
    aggregate all share ONE type-keyed exchange (the peak day is a
    rank-gated max inside the same groupBy — no join-back, no second
    derivation of the day-grain tree). At 100 TB the day-grain
    relation is still ~10^4 rows per type — the window cost never
    grows with raw volume, the signature moving-frame lesson
    (SCALING.md W1-W4) applied to change detection."""
    ev = t(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    wt = Window.partitionBy("event_type")
    ww = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scoped = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(wt).alias("n_days"),
        F.sum("x").over(wt).alias("tot"),
    )
    # The running deviation sum accumulates in DECIMAL(38,0): Spark
    # would sum the BIGINT summand as BIGINT (silent non-ANSI
    # wraparound) while DuckDB widens to HUGEINT — promote the summand
    # before the windowed sum so both engines stay exact at any sf
    # (ADVICE r12, the gini accumulator fix applied to this family).
    walked = scoped.withColumn(
        "s",
        F.sum(
            F.col("n_days").cast("decimal(19,0)") * F.col("x") - F.col("tot")
        ).over(ww),
    )
    cu = walked.withColumn(
        "cusum",
        F.col("s") - F.least(F.lit(0).cast("decimal(38,0)"), F.min("s").over(ww)),
    )
    ranked = cu.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("cusum").desc(), F.col("day")
            )
        ),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.max("tot").cast("long").alias("total_events"),
        F.max("cusum").cast("long").alias("peak_cusum_scaled"),
        F.max(F.when(F.col("rn") == 1, F.col("day"))).alias("peak_day"),
        F.sum(F.when(F.col("cusum") > F.col("tot"), 1).otherwise(0))
        .cast("long")
        .alias("drift_days"),
    )


# log10(1 + 1/d) in micro units, d = 1..9; frozen integer constants
# shared by both engines as literals (they sum to exactly 1e6, which
# the unit test pins so a typo cannot silently skew every deviation).
_BENFORD_MICRO = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)

_BENFORD_ORACLE = f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
        WHERE o_totalprice > 0
    ),
    counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
    ),
    expected(digit, micro) AS (
        VALUES {", ".join(f"({d + 1}, {m})" for d, m in enumerate(_BENFORD_MICRO))}
    )
    SELECT e.digit,
           CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
           CAST((SELECT sum(n_obs) FROM counts) * e.micro AS BIGINT)
               AS expected_count_micro,
           CAST(abs(coalesce(c.n_obs, 0) * 1000000
                    - (SELECT sum(n_obs) FROM counts) * e.micro) AS BIGINT)
               AS dev_micro
    FROM expected e LEFT JOIN counts c ON e.digit = c.digit
"""


@query("agg_benford_deviation", oracle=_BENFORD_ORACLE, tags=("agg", "stats", "dq"))
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34: BENFORD'S-LAW first-digit test over order amounts — the
    classic fraud/data-fabrication screen (synthetic or hand-entered
    money values miss the log-uniform leading-digit distribution;
    auditors and data-quality gates both run exactly this). Fully
    exact: the first significant digit of BIGINT cents comes from the
    decimal string head, the expected masses are the nine frozen
    log10(1+1/d) micro constants (they sum to exactly 1e6 —
    unit-pinned), and the per-digit deviation |1e6·n_d − n·p_micro|
    is pure BIGINT arithmetic — no engine ever computes a logarithm.

    Plan: one map-side-combinable 9-group aggregate over the scan (the
    digit expression lives in the scan projection), the 9-row count
    relation joins the 9-row expected literal table, and the corpus
    total enters as a 1-row scalar subquery — at 100 TB the only
    corpus-sized cost is the single scan; everything after it is
    9 rows. The left join keeps absent digits visible as n_obs=0
    (a digit that NEVER occurs is the loudest Benford violation)."""
    o = t(spark, sf_dir, "orders", spread=True).filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    total = counts.agg(F.sum("n_obs").alias("n_total"))
    expected = spark.createDataFrame(
        [(d + 1, m) for d, m in enumerate(_BENFORD_MICRO)], "digit int, micro long"
    )
    return (
        expected.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            (F.col("n_total") * F.col("micro")).cast("long").alias("expected_count_micro"),
            F.abs(
                F.coalesce(F.col("n_obs"), F.lit(0)) * F.lit(1000000)
                - F.col("n_total") * F.col("micro")
            )
            .cast("long")
            .alias("dev_micro"),
        )
    )


_DECILE_ORACLE = """
    WITH spend AS (
        SELECT o_custkey AS custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    tiled AS (
        SELECT custkey, cents,
               CAST(ntile(10) OVER (ORDER BY cents, custkey) AS INTEGER)
                   AS decile,
               sum(cents) OVER () AS total
        FROM spend
    ),
    agg AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS decile_cents,
               CAST(max(total) AS BIGINT) AS total
        FROM tiled GROUP BY decile
    )
    SELECT decile, n_customers, decile_cents,
           CAST((CAST(decile_cents AS HUGEINT) * 1000000) // total AS BIGINT)
               AS share_micro,
           CAST((CAST(sum(decile_cents) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS HUGEINT)
                 * 1000000) // total AS BIGINT) AS cum_share_micro
    FROM agg
"""


@query("agg_decile_shares", oracle=_DECILE_ORACLE, tags=("agg", "stats"))
def agg_decile_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35: LORENZ DECILES of customer spend — the concentration curve
    behind agg_gini_concentration's single number: per spend decile,
    customer count, mass, share, and cumulative share (the "top 10%
    of customers carry X% of revenue" slide, and the curve whose area
    IS the Gini). Deterministic tie-break (cents, custkey) makes the
    decile assignment identical on both engines; shares quantize by
    truncating integer division with the 1e6 scale-up in
    DECIMAL(38,0)/HUGEINT — total×1e6 passes int64 around sf1, the
    same design-time overflow fix as agg_gini_concentration — so
    every output column is exact.

    Plan: per-customer rollup (the one corpus-sized exchange), then a
    RANGE-PARTITIONED two-pass rank (:func:`two_pass_ntile` — no
    unpartitioned WindowExec; the decile assignment is the closed-form
    ntile remainder formula over the distributed global rank), a
    10-row aggregate, and the Lorenz cumulative + grand total computed
    by bounded 10-row broadcast theta-joins instead of windows — the
    plan pin asserts the whole query is WindowExec-free. At extreme
    customer counts swap the exact rank for percentile_approx-derived
    boundaries and a broadcast range join — the decile CONTRACT stays
    identical."""
    o = t(spark, sf_dir, "orders", spread=True)
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # size_hint: the customer-grain relation is bounded by the customer
    # FK domain — a parquet metadata count, no data scan.
    tiled = two_pass_ntile(
        spend,
        [F.col("cents"), F.col("custkey")],
        10,
        "decile",
        size_hint=t(spark, sf_dir, "customer").count(),
    )
    agg10 = scoped_persist(
        tiled.groupBy("decile").agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("decile_cents"),
        )
    )
    tot = agg10.agg(F.sum("decile_cents").cast("long").alias("total"))
    other = agg10.select(
        F.col("decile").alias("_bd"), F.col("decile_cents").alias("_bc")
    )
    cum = (
        agg10.join(F.broadcast(other), F.col("_bd") <= F.col("decile"))
        .groupBy("decile", "n_customers", "decile_cents")
        .agg(F.sum("_bc").cast("long").alias("cum_cents"))
        .crossJoin(F.broadcast(tot))
    )
    return cum.select(
        "decile",
        "n_customers",
        "decile_cents",
        F.expr(
            "CAST(((CAST(decile_cents AS DECIMAL(38,0)) * 1000000)"
            " - ((CAST(decile_cents AS DECIMAL(38,0)) * 1000000) % total))"
            " / total AS BIGINT)"
        ).alias("share_micro"),
        F.expr(
            "CAST(((CAST(cum_cents AS DECIMAL(38,0)) * 1000000)"
            " - ((CAST(cum_cents AS DECIMAL(38,0)) * 1000000) % total))"
            " / total AS BIGINT)"
        ).alias("cum_share_micro"),
    )


_SEASONAL_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    keyed AS (
        SELECT event_type, day, x,
               CAST((date_diff('day', DATE '1970-01-01', day) + 4) % 7
                    AS INTEGER) AS dow
        FROM daily
    ),
    med AS (
        SELECT event_type, dow,
               CAST(count(*) AS BIGINT) AS n_days,
               quantile_cont(x, 0.5) AS median_count
        FROM keyed GROUP BY event_type, dow
    ),
    resid AS (
        SELECT k.event_type, k.dow, k.day,
               abs(k.x - m.median_count) AS r,
               row_number() OVER (PARTITION BY k.event_type, k.dow
                                  ORDER BY abs(k.x - m.median_count) DESC,
                                           k.day) AS rn
        FROM keyed k JOIN med m
          ON k.event_type = m.event_type AND k.dow = m.dow
    )
    SELECT m.event_type, m.dow, m.n_days, m.median_count,
           max(r.r) AS max_residual,
           max(CASE WHEN r.rn = 1 THEN r.day END) AS worst_day
    FROM med m JOIN resid r
      ON r.event_type = m.event_type AND r.dow = m.dow
    GROUP BY m.event_type, m.dow, m.n_days, m.median_count
"""


@query(
    "window_seasonal_dow_baseline",
    oracle=_SEASONAL_ORACLE,
    tags=("stats", "window", "events"),
)
def window_seasonal_dow_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36: WEEKDAY-SEASONAL DECOMPOSITION of daily event volume — the
    baseline table the other monitors lean on: events_dow_chi2 asks
    "is there weekday seasonality at all", events_anomaly_days asks
    "is today extreme vs the trailing week"; this one EXTRACTS the
    seasonal component (per-(type, weekday) MEDIAN daily count — the
    robust choice, one launch-day spike cannot move it) and reports
    the largest residual day per cell, which is "the Tuesday that
    didn't look like a Tuesday" — invisible to both other monitors
    when absolute volume stays in range.

    Engine-agnostic weekday: dow = (epoch_day + 4) % 7 computed as
    date arithmetic on both sides (1970-01-01 was a Thursday), never
    the engines' dayofweek builtins whose numbering conventions
    differ — the seam events_dow_chi2 dodged by permutation
    invariance is here pinned by construction. Medians of integer
    counts interpolate to integers or exact .5 halves (the MAD
    precedent), residual magnitudes inherit that exactness, and the
    worst day folds in as a rank-gated max — no join-back, the cusum
    lesson.

    Plan: corpus → (type, day) grain first (the only corpus-sized
    pass); the median aggregate, residual join, rank window, and
    final aggregate all run on the ~35-cell-keyed day-grain relation.
    The med relation is groups-sized → broadcast back onto the
    day-grain rescan (the winsorize/MAD trade)."""
    ev = t(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    keyed = scoped_persist(
        daily.withColumn(
            "dow",
            ((F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) + 4) % 7)
            .cast("int"),
        )
    )
    med = keyed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("percentile(x, 0.5)").alias("median_count"),
    )
    resid = (
        keyed.join(F.broadcast(med), ["event_type", "dow"])
        .withColumn("r", F.abs(F.col("x") - F.col("median_count")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type", "dow").orderBy(
                    F.col("r").desc(), F.col("day")
                )
            ),
        )
    )
    return resid.groupBy("event_type", "dow").agg(
        F.max("n_days").alias("n_days"),
        F.max("median_count").alias("median_count"),
        F.max("r").alias("max_residual"),
        F.max(F.when(F.col("rn") == 1, F.col("day"))).alias("worst_day"),
    )


_DRAWDOWN_ORACLE = """
    WITH daily AS (
        SELECT c.c_nationkey AS nationkey, CAST(o.o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    scoped AS (
        SELECT nationkey, day, cents,
               count(*) OVER (PARTITION BY nationkey) AS n_days,
               sum(cents) OVER (PARTITION BY nationkey) AS tot
        FROM daily
    ),
    cums AS (
        SELECT nationkey, day,
               sum(n_days * cents - tot) OVER (
                   PARTITION BY nationkey ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum
        FROM scoped
    ),
    walked AS (
        SELECT nationkey, day, cum,
               max(cum) OVER (PARTITION BY nationkey ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
        FROM cums
    ),
    dd AS (
        SELECT nationkey, day, peak - cum AS drawdown,
               row_number() OVER (PARTITION BY nationkey
                                  ORDER BY peak - cum DESC, day) AS rn
        FROM walked
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown_scaled,
           max(CASE WHEN rn = 1 THEN day END) AS trough_day
    FROM dd JOIN nation n ON n.n_nationkey = dd.nationkey
    GROUP BY n.n_name
"""


@query("window_max_drawdown", oracle=_DRAWDOWN_ORACLE, tags=("stats", "window"))
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37: MAXIMUM DRAWDOWN of mean-centered cumulative revenue per
    nation — the peak-to-trough statistic (finance's risk number),
    here over the TREND-centered series n_days·x_i − total (raw
    cumulative revenue of positive daily sums is monotone and its
    drawdown vacuously 0 — the common_neighbors vacuity lesson
    applied at design time; centering makes the statistic "worst
    sustained below-trend slump", the other-tail complement to
    events_cusum_drift's above-mean accumulation and in the same
    exact n_days-scaled cents units). The textbook definition
    max_t(peak_t − cum_t)
    needs a running max OF a running sum — neither engine allows the
    nesting in one expression (DuckDB binder-errors on it), but two
    STACKED window layers over the same partition/sort evaluate
    inside one exchange, so the whole statistic is still one
    day-grain sorted pass. Everything is BIGINT cents; the trough
    day folds in as a rank-gated max (the cusum lesson — no
    join-back).

    Plan: orders collapse to (nation, day) grain first via one
    broadcast dim join + map-side-combinable aggregate; the nested
    windows and the final rollup share one nation-keyed exchange of
    the day-grain relation. 100 TB: identical — the window never
    sees raw orders."""
    o = t(spark, sf_dir, "orders", spread=True)
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wp = Window.partitionBy("nationkey")
    w = (
        Window.partitionBy("nationkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scoped = daily.select(
        "nationkey",
        "day",
        "cents",
        F.count(F.lit(1)).over(wp).alias("n_days"),
        F.sum("cents").over(wp).alias("tot"),
    )
    # DECIMAL(38,0) accumulator for the running centered sum — Spark's
    # BIGINT window sum wraps silently in non-ANSI mode while DuckDB
    # widens to HUGEINT (ADVICE r12, the gini accumulator fix applied
    # to this family); n_days·cents ~ 5e15 at sf1 makes the cumulative
    # series the first place the engines would diverge.
    walked = scoped.select(
        "nationkey",
        "day",
        F.sum(
            F.col("n_days").cast("decimal(19,0)") * F.col("cents") - F.col("tot")
        )
        .over(w)
        .alias("cum"),
    ).withColumn("peak", F.max("cum").over(w))
    dd = walked.withColumn("drawdown", F.col("peak") - F.col("cum")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("nationkey").orderBy(
                F.col("drawdown").desc(), F.col("day")
            )
        ),
    )
    return (
        dd.join(F.broadcast(n), dd.nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("drawdown").cast("long").alias("max_drawdown_scaled"),
            F.max(F.when(F.col("rn") == 1, F.col("day"))).alias("trough_day"),
        )
    )


_BACKTEST_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, day, x,
               lag(x, 7) OVER w AS x7,
               lag(x, 1) OVER w AS x1
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN x7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_scored,
           CAST(sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x7) END) AS BIGINT)
               AS mae7_sum,
           CAST(sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x1) END) AS BIGINT)
               AS mae1_sum,
           CAST(CASE WHEN sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x1) END) = 0
                THEN 0
                ELSE (sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x7) END)
                      * 1000000)
                     // sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x1) END)
                END AS BIGINT) AS mase_micro,
           CASE WHEN sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x7) END)
                     < sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x1) END)
                THEN 'seasonal_naive' ELSE 'naive' END AS best_model
    FROM lagged GROUP BY event_type
"""


@query(
    "window_seasonal_naive_backtest",
    oracle=_BACKTEST_ORACLE,
    tags=("stats", "window", "events"),
)
def window_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39: FORECAST BACKTEST as a relation — the evaluation harness
    every capacity-planning forecast runs before anyone trusts it:
    walk the daily series, score the seasonal-naive model (x̂_d =
    x_{d−7 obs}) against the naive-1 benchmark (x̂_d = x_{d−1 obs})
    on exactly the days where both have an ancestor, and report the
    MASE-style ratio (Hyndman's scaled error with the benchmark in
    the denominator): mase_micro < 1e6 means weekly seasonality is
    REAL and worth modeling; ≥ 1e6 means the fancy model loses to
    persistence — the go/no-go number. The seasonal lag is 7
    OBSERVED days (ROWS lag over the day sequence, a documented
    contract that sidesteps calendar-gap ambiguity); both error
    sums are exact BIGINT counts, the ratio is truncating integer
    division, and a zero benchmark error (constant series) pins the
    0 sentinel on both engines.

    Plan: corpus → (type, day) grain first (the moving-frame
    lesson); both lags ride ONE window sort and the scoring fold is
    the same type-keyed exchange. 100 TB: day-grain forever —
    backtesting cost is independent of event volume."""
    ev = t(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "x",
        F.lag("x", 7).over(w).alias("x7"),
        F.lag("x", 1).over(w).alias("x1"),
    )
    scored7 = F.when(F.col("x7").isNotNull(), F.abs(F.col("x") - F.col("x7")))
    scored1 = F.when(F.col("x7").isNotNull(), F.abs(F.col("x") - F.col("x1")))
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("x7").isNotNull().cast("long")).cast("long").alias("n_scored"),
        F.sum(scored7).cast("long").alias("mae7_sum"),
        F.sum(scored1).cast("long").alias("mae1_sum"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN x7 IS NOT NULL"
            " THEN abs(x - x1) END) = 0 THEN 0"
            " ELSE (sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x7) END)"
            "       * 1000000)"
            "      DIV sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x1) END)"
            " END AS BIGINT)"
        ).alias("mase_micro"),
        F.expr(
            "CASE WHEN sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x7) END)"
            "      < sum(CASE WHEN x7 IS NOT NULL THEN abs(x - x1) END)"
            " THEN 'seasonal_naive' ELSE 'naive' END"
        ).alias("best_model"),
    )


# --- Distribution-diagnostics wave (round 13) ---------------------------
# Drift, effect size, seasonality memory, and outlier screening — the
# statistics a training-data pipeline runs BETWEEN ingest and training
# to decide whether a source moved, a slice differs, or a batch needs
# gating. All exact: value-grain collapses first, cross products in
# DECIMAL(38,0)/HUGEINT (the gini accumulator lesson at design time),
# micro-quantization before any division, floor(sqrt(double)) only
# where a denominator genuinely needs a root (the Neyman precedent —
# IEEE 754 sqrt and int->double round identically on both engines).

_KS_ORACLE = """
    WITH per AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM per GROUP BY v),
    srcs AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM per GROUP BY source
    ),
    n AS (SELECT CAST(sum(ct) AS BIGINT) AS n_all FROM tot),
    grid AS (
        SELECT s.source, s.n_src, t.v, t.ct, coalesce(p.c, 0) AS c
        FROM srcs s CROSS JOIN tot t
        LEFT JOIN per p ON p.source = s.source AND p.v = t.v
    ),
    cums AS (
        SELECT source, n_src, v,
               sum(c) OVER (PARTITION BY source ORDER BY v) AS cum_s,
               sum(ct) OVER (PARTITION BY source ORDER BY v) AS cum_all
        FROM grid
    ),
    devs AS (
        SELECT source, n_src, v,
               CASE WHEN (SELECT n_all FROM n) = n_src THEN 0 ELSE
               abs(CAST(cum_s AS HUGEINT) * ((SELECT n_all FROM n) - n_src)
                   - CAST(cum_all - cum_s AS HUGEINT) * n_src) * 1000000
                   // (CAST(n_src AS HUGEINT)
                       * ((SELECT n_all FROM n) - n_src)) END AS d_micro
        FROM cums
    ),
    ranked AS (
        SELECT source, n_src, v, d_micro,
               row_number() OVER (PARTITION BY source
                                  ORDER BY d_micro DESC, v) AS rn
        FROM devs
    )
    SELECT source,
           CAST(max(n_src) AS BIGINT) AS n_src,
           CAST((SELECT n_all FROM n) - max(n_src) AS BIGINT) AS n_rest,
           CAST(max(d_micro) AS BIGINT) AS ks_micro,
           CAST(max(CASE WHEN rn = 1 THEN v END) AS BIGINT) AS ks_at_value
    FROM ranked GROUP BY source
"""


@query("agg_ks_source_drift", oracle=_KS_ORACLE, tags=("agg", "stats", "drift"))
def agg_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38: two-sample KOLMOGOROV-SMIRNOV drift screen, each source vs
    the rest of the corpus over the document-length distribution — the
    standard "did this source's data shift" gate a curation pipeline
    runs per ingest batch (a mean/variance screen misses shape changes;
    KS sees any ecdf divergence). Fully exact: both ecdfs are step
    functions over the bounded n_chars DOMAIN, so the max deviation is
    evaluated on the global value grid; the per-point statistic
    |cum_s·n_rest − cum_rest·n_src| is cross-multiplied in
    DECIMAL(38,0)/HUGEINT and micro-quantized by floor division —
    no engine ever divides floats. The argmax value (smallest-v
    tie-break) rides out via the cusum rank-gated-max pattern.

    Plan: ONE corpus-grain pass (the (source, value) count collapse —
    map-side combinable); everything after runs on the sources×values
    grid, which is bounded by |sources|·|value domain| at ANY corpus
    size (~20×340 here). The grid build is a broadcast cross join of
    two domain-sized relations — the allowlisted bounded NLJ shape —
    and the two cumulative windows share one source-keyed exchange of
    grid rows."""
    base = t(spark, sf_dir, "documents", spread=True).select(
        "source", F.col("n_chars").alias("v")
    )
    per = scoped_persist(
        base.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = per.groupBy("v").agg(F.sum("c").alias("ct"))
    srcs = per.groupBy("source").agg(F.sum("c").alias("n_src"))
    n_all = per.agg(F.sum("c").alias("n_all"))
    grid = (
        srcs.crossJoin(F.broadcast(tot))
        .join(per, ["source", "v"], "left")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            "n_src",
            "v",
            "ct",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "n_all",
        )
    )
    w = Window.partitionBy("source").orderBy("v")
    cums = grid.select(
        "source",
        "n_src",
        "v",
        "n_all",
        F.sum("c").over(w).alias("cum_s"),
        F.sum("ct").over(w).alias("cum_all"),
    )
    devs = cums.select(
        "source",
        "n_src",
        "n_all",
        "v",
        # Zero guard: a degenerate single-source corpus makes
        # n_all == n_src, where Spark's non-ANSI decimal division
        # yields NULL while DuckDB's // raises — an engine-divergence
        # seam. KS of a population vs its empty complement is
        # definitionally 0. Guarded identically in _KS_ORACLE.
        F.expr(
            "CASE WHEN n_all = n_src THEN CAST(0 AS BIGINT) ELSE"
            " CAST((abs(CAST(cum_s AS DECIMAL(38,0)) * (n_all - n_src)"
            "     - CAST(cum_all - cum_s AS DECIMAL(38,0)) * n_src) * 1000000"
            " - (abs(CAST(cum_s AS DECIMAL(38,0)) * (n_all - n_src)"
            "     - CAST(cum_all - cum_s AS DECIMAL(38,0)) * n_src) * 1000000)"
            "   % (CAST(n_src AS DECIMAL(38,0)) * (n_all - n_src)))"
            " / (CAST(n_src AS DECIMAL(38,0)) * (n_all - n_src)) AS BIGINT)"
            " END"
        ).alias("d_micro"),
    )
    ranked = devs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.col("d_micro").desc(), F.col("v"))
        ),
    )
    return ranked.groupBy("source").agg(
        F.max("n_src").cast("long").alias("n_src"),
        (F.max("n_all") - F.max("n_src")).cast("long").alias("n_rest"),
        F.max("d_micro").cast("long").alias("ks_micro"),
        F.max(F.when(F.col("rn") == 1, F.col("v"))).cast("long").alias("ks_at_value"),
    )


_MWU_ORACLE = """
    WITH per AS (
        SELECT n_chars AS v,
               CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_en,
               CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS c_de
        FROM documents WHERE lang IN ('en', 'de') GROUP BY 1
    ),
    walked AS (
        SELECT v, c_en, c_de, c_en + c_de AS ct,
               sum(c_en + c_de) OVER (ORDER BY v) - (c_en + c_de)
                   AS cum_before
        FROM per
    ),
    sums AS (
        SELECT CAST(sum(c_en) AS BIGINT) AS n_en,
               CAST(sum(c_de) AS BIGINT) AS n_de,
               CAST(sum(CAST(c_en AS HUGEINT)
                        * (2 * cum_before + ct + 1)) AS HUGEINT) AS r1x2,
               CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS BIGINT)
                   AS tie_cubes
        FROM walked
    )
    SELECT n_en, n_de,
           CAST(r1x2 - CAST(n_en AS HUGEINT) * (n_en + 1) AS BIGINT)
               AS u_twice,
           CAST((r1x2 - CAST(n_en AS HUGEINT) * (n_en + 1)) * 1000000
                // (2 * CAST(n_en AS HUGEINT) * n_de) AS BIGINT)
               AS auc_micro,
           tie_cubes
    FROM sums
"""


@query("agg_mann_whitney_auc", oracle=_MWU_ORACLE, tags=("agg", "stats", "drift"))
def agg_mann_whitney_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39: MANN-WHITNEY U / rank-sum between the en and de document
    slices over document length — the nonparametric "is one slice
    stochastically longer" test, and U/(n1·n2) is exactly the AUC of
    "length predicts slice", the effect-size number next to
    agg_ks_source_drift's shape distance and agg_ab_significance's
    parametric z. Fully exact: ranks collapse to the value GRAIN with
    midranks for ties carried as 2×-scaled integers (2·midrank =
    2·cum_before + t + 1 — never a .5), the rank-sum accumulates in
    DECIMAL(38,0)/HUGEINT, AUC is micro-quantized floor division, and
    the tie-correction mass Σ(t³−t) rides out for any downstream
    variance use.

    Plan: ONE corpus-grain pass (the value-grain count collapse,
    map-side combinable, with both slice counts as conditional sums in
    the same aggregate); the midrank walk is one window over the
    bounded value domain; one final 1-row reduction. Corpus-size-
    independent after the collapse at any scale."""
    base = t(spark, sf_dir, "documents", spread=True).filter(
        F.col("lang").isin("en", "de")
    )
    per = base.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_en"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("c_de"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walked = per.select(
        "v",
        "c_en",
        "c_de",
        (F.col("c_en") + F.col("c_de")).alias("ct"),
        (F.sum(F.col("c_en") + F.col("c_de")).over(w) - (F.col("c_en") + F.col("c_de"))).alias(
            "cum_before"
        ),
    )
    sums = walked.agg(
        F.sum("c_en").cast("long").alias("n_en"),
        F.sum("c_de").cast("long").alias("n_de"),
        F.sum(
            F.col("c_en").cast("decimal(19,0)")
            * (2 * F.col("cum_before") + F.col("ct") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("ct").cast("decimal(19,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        )
        .cast("long")
        .alias("tie_cubes"),
    )
    return sums.select(
        "n_en",
        "n_de",
        F.expr(
            "CAST(r1x2 - CAST(n_en AS DECIMAL(38,0)) * (n_en + 1) AS BIGINT)"
        ).alias("u_twice"),
        F.expr(
            "CAST(((r1x2 - CAST(n_en AS DECIMAL(38,0)) * (n_en + 1)) * 1000000"
            " - ((r1x2 - CAST(n_en AS DECIMAL(38,0)) * (n_en + 1)) * 1000000)"
            "   % (2 * CAST(n_en AS DECIMAL(38,0)) * n_de))"
            " / (2 * CAST(n_en AS DECIMAL(38,0)) * n_de) AS BIGINT)"
        ).alias("auc_micro"),
        "tie_cubes",
    )


_ACF_LAGS = (1, 7)

_ACF_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, x,
               lag(x, 1) OVER w AS y1,
               lag(x, 7) OVER w AS y7
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    stacked AS (
        SELECT event_type, lag, x, y FROM (
            SELECT event_type, 1 AS lag, x, y1 AS y FROM lagged
            UNION ALL
            SELECT event_type, 7, x, y7 FROM lagged
        ) WHERE y IS NOT NULL
    ),
    moms AS (
        SELECT event_type, lag,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sy2
        FROM stacked GROUP BY 1, 2
    ),
    parts AS (
        SELECT event_type, lag, n,
               n * sxy - sx * sy AS num,
               CAST(floor(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))) AS HUGEINT)
                   AS dx,
               CAST(floor(sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS HUGEINT)
                   AS dy
        FROM moms
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
                WHEN num < 0 THEN -(((-num) * 1000000) // (dx * dy))
                ELSE (num * 1000000) // (dx * dy) END AS BIGINT)
               AS acf_micro
    FROM parts
"""


@query("events_autocorr_lag", oracle=_ACF_ORACLE, tags=("stats", "events", "window"))
def events_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40: lag-1 and lag-7 AUTOCORRELATION of daily event volume per
    type — the seasonality-memory diagnostic that says WHETHER a
    weekly cycle exists (window_seasonal_dow_baseline then says what
    it looks like, and window_seasonal_naive_backtest whether it
    forecasts): acf(7) >> acf(1) is the weekly-rhythm signature.
    Pearson r over the (x_t, x_{t−k}) pairs with every moment summed
    exactly (DECIMAL(38,0)/HUGEINT), the two denominator roots taken
    once each as floor(sqrt(double)) — the Neyman precedent: IEEE 754
    sqrt of an exactly-representable integer rounds identically on
    both engines — and the ratio micro-quantized with an explicit
    sign split (DuckDB ``//`` floors negatives; truncation toward
    zero is the documented contract).

    Plan: the corpus collapses to (type, day) grain FIRST (map-side
    combinable); one type-keyed window serves BOTH lags (shared
    window spec -> one Window node); the two lag series stack via an
    in-scan explode (no union re-scan) and reduce to |types|×|lags|
    moment rows. Day-grain everything — corpus-size-independent after
    the collapse."""
    ev = t(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("y1"),
        F.lag("x", 7).over(w).alias("y7"),
    )
    stacked = (
        lagged.select(
            "event_type",
            "x",
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("lag"), F.col("y1").alias("y")),
                    F.struct(F.lit(7).alias("lag"), F.col("y7").alias("y")),
                )
            ).alias("ly"),
        )
        .select("event_type", F.col("ly.lag").alias("lag"), "x", F.col("ly.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    moms = stacked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sx2"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias("sy2"),
    )
    parts = moms.select(
        "event_type",
        "lag",
        "n",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))"
        ).alias("num"),
        F.floor(
            F.sqrt(
                F.expr(
                    "CAST(CAST(n AS DECIMAL(38,0)) * sx2"
                    " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"
                    " AS DOUBLE)"
                )
            )
        )
        .cast("decimal(38,0)")
        .alias("dx"),
        F.floor(
            F.sqrt(
                F.expr(
                    "CAST(CAST(n AS DECIMAL(38,0)) * sy2"
                    " - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))"
                    " AS DOUBLE)"
                )
            )
        )
        .cast("decimal(38,0)")
        .alias("dy"),
    )
    return parts.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0"
            " WHEN num < 0"
            " THEN -((((-num) * 1000000) - (((-num) * 1000000) % (dx * dy)))"
            "        / (dx * dy))"
            " ELSE ((num * 1000000) - ((num * 1000000) % (dx * dy))) / (dx * dy)"
            " END AS BIGINT)"
        ).alias("acf_micro"),
    )


_TUKEY_ORACLE = """
    WITH cents AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               o.o_orderkey AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT nationkey, v,
               row_number() OVER (PARTITION BY nationkey
                                  ORDER BY v, k) AS rn,
               count(*) OVER (PARTITION BY nationkey) AS n
        FROM cents
    ),
    quarts AS (
        SELECT nationkey, CAST(max(n) AS BIGINT) AS n_orders,
               CAST(max(CASE WHEN rn = (n + 3) // 4 THEN v END) AS BIGINT)
                   AS q1_cents,
               CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS BIGINT)
                   AS q3_cents
        FROM ranked GROUP BY nationkey
    ),
    flagged AS (
        SELECT c.nationkey, q.n_orders, q.q1_cents, q.q3_cents,
               CASE WHEN 2 * c.v < 5 * q.q1_cents - 3 * q.q3_cents
                    THEN 1 ELSE 0 END AS lo,
               CASE WHEN 2 * c.v > 5 * q.q3_cents - 3 * q.q1_cents
                    THEN 1 ELSE 0 END AS hi
        FROM cents c JOIN quarts q ON q.nationkey = c.nationkey
    )
    SELECT n.n_name AS nation,
           CAST(max(f.n_orders) AS BIGINT) AS n_orders,
           CAST(max(f.q1_cents) AS BIGINT) AS q1_cents,
           CAST(max(f.q3_cents) AS BIGINT) AS q3_cents,
           CAST(sum(f.lo) AS BIGINT) AS n_low_outliers,
           CAST(sum(f.hi) AS BIGINT) AS n_high_outliers
    FROM flagged f JOIN nation n ON n.n_nationkey = f.nationkey
    GROUP BY n.n_name
"""


@query("agg_tukey_outlier_fences", oracle=_TUKEY_ORACLE, tags=("agg", "stats", "dq"))
def agg_tukey_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41: TUKEY-FENCE outlier screen per nation over order amounts —
    the boxplot rule (outside [q1 − 1.5·IQR, q3 + 1.5·IQR]) that data-
    quality gates and anomaly triage run before trusting a batch; the
    rank-based complement to agg_mad_robust's deviation-scale screen.
    Fully exact: quartiles are POSITIONAL (value at row ceil(n/4) /
    ceil(3n/4) of the per-nation sort — spelled as rank arithmetic on
    BOTH engines rather than builtin percentile functions, whose
    interpolation conventions differ), and the fence test multiplies
    through by 2 so 1.5·IQR never leaves the integers: 2v < 5q1 − 3q3
    flags low, 2v > 5q3 − 3q1 flags high.

    Plan: one broadcast dim join + ONE nation-keyed window sort of the
    cents relation; the quartiles fold out via the rank-gated max (no
    join-back for the quartile PICK), then the |nations|-row quartile
    table broadcasts back onto the same persisted cents relation for
    the outlier count — the winsorize shape. At 100 TB the sort is the
    cost and it shards by nation; everything after is scan + 25-row
    broadcast."""
    o = t(spark, sf_dir, "orders", spread=True)
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    cents = scoped_persist(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
            F.col("c_nationkey").alias("nationkey"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
            F.col("o_orderkey").alias("k"),
        )
    )
    wp = Window.partitionBy("nationkey")
    ranked = cents.select(
        "nationkey",
        "v",
        F.row_number().over(wp.orderBy("v", "k")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    quarts = ranked.groupBy("nationkey").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max(F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("v")))
        .cast("long")
        .alias("q1_cents"),
        F.max(F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("v")))
        .cast("long")
        .alias("q3_cents"),
    )
    flagged = cents.join(F.broadcast(quarts), "nationkey").select(
        "nationkey",
        "n_orders",
        "q1_cents",
        "q3_cents",
        F.when(2 * F.col("v") < 5 * F.col("q1_cents") - 3 * F.col("q3_cents"), 1)
        .otherwise(0)
        .alias("lo"),
        F.when(2 * F.col("v") > 5 * F.col("q3_cents") - 3 * F.col("q1_cents"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    return (
        flagged.join(F.broadcast(n), flagged.nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n_orders").cast("long").alias("n_orders"),
            F.max("q1_cents").cast("long").alias("q1_cents"),
            F.max("q3_cents").cast("long").alias("q3_cents"),
            F.sum("lo").cast("long").alias("n_low_outliers"),
            F.sum("hi").cast("long").alias("n_high_outliers"),
        )
    )


_CHI2_ORACLE = """
    WITH obs AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    cells AS (
        -- zero-fill the full grid: unobserved (source, lang) combos
        -- still contribute (0 - E)^2 / E to the statistic
        SELECT s.source, l.lang, coalesce(ob.o, 0) AS o
        FROM (SELECT DISTINCT source FROM obs) s
        CROSS JOIN (SELECT DISTINCT lang FROM obs) l
        LEFT JOIN obs ob ON ob.source = s.source AND ob.lang = l.lang
    ),
    margins AS (
        SELECT c.source, c.lang, c.o,
               sum(c.o) OVER (PARTITION BY c.source) AS r,
               sum(c.o) OVER (PARTITION BY c.lang) AS cl,
               sum(c.o) OVER () AS n
        FROM cells c
    ),
    contrib AS (
        SELECT source, lang,
               (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * cl)
               * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * cl)
               * 1000000
               // (CAST(n AS HUGEINT) * r * cl) AS cell_micro
        FROM margins
    ),
    ranked AS (
        SELECT source, lang, cell_micro,
               row_number() OVER (ORDER BY cell_micro DESC, source, lang) AS rn
        FROM contrib
    )
    SELECT CAST((SELECT sum(o) FROM cells) AS BIGINT) AS n_rows,
           CAST((SELECT count(DISTINCT source) FROM cells) AS BIGINT)
               AS n_sources,
           CAST((SELECT count(DISTINCT lang) FROM cells) AS BIGINT) AS n_langs,
           CAST(((SELECT count(DISTINCT source) FROM cells) - 1)
                * ((SELECT count(DISTINCT lang) FROM cells) - 1) AS BIGINT)
               AS dof,
           CAST((SELECT sum(cell_micro) FROM contrib) AS BIGINT)
               AS chi2_micro,
           (SELECT max(source) FROM ranked WHERE rn = 1) AS top_source,
           (SELECT max(lang) FROM ranked WHERE rn = 1) AS top_lang
"""


@query("agg_chi2_independence", oracle=_CHI2_ORACLE, tags=("agg", "stats", "drift"))
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42: CHI-SQUARED INDEPENDENCE test over the source × lang
    contingency table — the categorical-drift companion to
    agg_ks_source_drift's numeric shape test and events_dow_chi2's
    goodness-of-fit (this one tests ASSOCIATION between two
    categorical columns: "do sources have different language mixes").
    Fully integer: Σ(n·o − r·c)²/(n·r·c) IS chi-squared exactly
    ((o−E)²/E with E=r·c/n, cross-multiplied), so no float expected
    counts ever appear: cross products and squares run
    in DECIMAL(38,0)/HUGEINT (exact through n ~ 3e9; past that the
    squared term exceeds 38 digits — the envelope is documented, not
    silent), per-cell floor division, and the dominant cell rides out
    via the rank-gated max with a (source, lang) tie-break.

    Plan: one corpus-grain collapse to |sources|×|langs| cells
    (map-side combinable), then three margin windows and the final
    1-row reduction all on the bounded cell grid. Corpus-size-
    independent after the collapse."""
    obs = scoped_persist(
        t(spark, sf_dir, "documents", spread=True)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # Zero-fill the full grid (bounded broadcast cross join, the KS
    # shape): unobserved combos still contribute (0 − E)²/E.
    cells = scoped_persist(
        obs.select("source")
        .distinct()
        .crossJoin(F.broadcast(obs.select("lang").distinct()))
        .join(obs, ["source", "lang"], "left")
        .select("source", "lang", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    margins = cells.select(
        "source",
        "lang",
        "o",
        F.sum("o").over(Window.partitionBy("source")).alias("r"),
        F.sum("o").over(Window.partitionBy("lang")).alias("cl"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    contrib = margins.select(
        "source",
        "lang",
        F.expr(
            "CAST((((CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * cl)"
            "  * (CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * cl))"
            "  * 1000000"
            " - (((CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * cl)"
            "  * (CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * cl))"
            "  * 1000000)"
            "   % (CAST(n AS DECIMAL(38,0)) * r * cl))"
            " / (CAST(n AS DECIMAL(38,0)) * r * cl) AS DECIMAL(38,0))"
        ).alias("cell_micro"),
    )
    ranked = contrib.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("cell_micro").desc(), F.col("source"), F.col("lang"))
        ),
    )
    totals = cells.agg(
        F.sum("o").cast("long").alias("n_rows"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )
    stat = ranked.agg(
        F.sum("cell_micro").cast("long").alias("chi2_micro"),
        F.max(F.when(F.col("rn") == 1, F.col("source"))).alias("top_source"),
        F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias("top_lang"),
    )
    return totals.crossJoin(stat).select(
        "n_rows",
        "n_sources",
        "n_langs",
        ((F.col("n_sources") - 1) * (F.col("n_langs") - 1)).cast("long").alias("dof"),
        "chi2_micro",
        "top_source",
        "top_lang",
    )


# --- Distribution-diagnostics wave (round 14) ---------------------------
# Rank association, categorical effect size with cell drill-down, and
# weighted quantiles — the next shelf of between-ingest-and-training
# statistics. Same exactness discipline as the round-13 wave: collapse
# to value/cell grain first, exact DECIMAL(38,0)/HUGEINT cross
# products, and floats only as IEEE-identical double ops over exact
# integers (division, sqrt — both correctly rounded per IEEE 754, so
# the engines agree bit-for-bit before the shared 6-dp rounding).

_SPEAR_ORACLE = """
    WITH base AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS x,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        FROM documents
    ),
    grid AS (
        SELECT lang, x, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2, 3
    ),
    gx AS (
        SELECT lang, x,
               2 * (sum(c) OVER (PARTITION BY lang ORDER BY x)
                    - sum(c) OVER (PARTITION BY lang, x)) + sum(c) OVER (PARTITION BY lang, x) + 1 AS rx2
        FROM (SELECT lang, x, CAST(sum(c) AS BIGINT) AS c
              FROM grid GROUP BY 1, 2)
    ),
    gy AS (
        SELECT lang, y,
               2 * (sum(c) OVER (PARTITION BY lang ORDER BY y)
                    - sum(c) OVER (PARTITION BY lang, y)) + sum(c) OVER (PARTITION BY lang, y) + 1 AS ry2
        FROM (SELECT lang, y, CAST(sum(c) AS BIGINT) AS c
              FROM grid GROUP BY 1, 2)
    ),
    moms AS (
        SELECT g.lang,
               CAST(sum(g.c) AS HUGEINT) AS n,
               CAST(sum(g.c * CAST(gx.rx2 AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(g.c * CAST(gy.ry2 AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(g.c * CAST(gx.rx2 AS HUGEINT) * gx.rx2) AS HUGEINT) AS sxx,
               CAST(sum(g.c * CAST(gy.ry2 AS HUGEINT) * gy.ry2) AS HUGEINT) AS syy,
               CAST(sum(g.c * CAST(gx.rx2 AS HUGEINT) * gy.ry2) AS HUGEINT) AS sxy
        FROM grid g
        JOIN gx ON gx.lang = g.lang AND gx.x = g.x
        JOIN gy ON gy.lang = g.lang AND gy.y = g.y
        GROUP BY g.lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS rho_spearman
    FROM moms
"""


@query("agg_spearman_corr", oracle=_SPEAR_ORACLE, tags=("agg", "stats", "drift"))
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43: SPEARMAN rank correlation between document length in chars
    and in tokens, per language — the monotone-association screen that
    Pearson (agg_corr_regr) misses when the relationship is nonlinear
    and that survives any monotone re-scaling of either column (the
    property that matters when one axis is a heuristic score). Exact
    through the last integer: ties get MIDRANKS carried as 2×-scaled
    integers (the agg_mann_whitney_auc device, so .5 halves never
    touch a float), all five co-moment sums accumulate per-cell
    weights in DECIMAL(38,0)/HUGEINT (n·Σc·rx·ry reaches ~4n⁴ — past
    int64 by sf0.1), and rho emerges from ONE double division and ONE
    IEEE-correctly-rounded sqrt over those exact integers, identical
    on both engines before the shared 6-dp rounding. Zero-variance
    groups (a lang whose docs all share one length) return 0 by guard
    on both engines rather than diverging on NULL-vs-error.

    Plan: one corpus-grain collapse to the (lang, x, y) grid — the
    only corpus-sized exchange, map-side combinable; the two midrank
    relations are (lang, value)-grain windows over bounded domains
    sharing the grid's exchange; the closing joins and 5-sum aggregate
    run entirely on the grid. Corpus-size-independent after the
    collapse."""
    base = t(spark, sf_dir, "documents", spread=True).select(
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.size(F.split("text", " ")).cast("long").alias("y"),
    )
    grid = scoped_persist(
        base.groupBy("lang", "x", "y").agg(F.count(F.lit(1)).alias("c"))
    )

    def midranks(col: str, out: str) -> DataFrame:
        per = grid.groupBy("lang", col).agg(F.sum("c").alias("cv"))
        w = Window.partitionBy("lang").orderBy(col)
        return per.select(
            "lang",
            col,
            (2 * (F.sum("cv").over(w) - F.col("cv")) + F.col("cv") + 1).alias(out),
        )

    gx = midranks("x", "rx2")
    gy = midranks("y", "ry2")
    d = F.col("c").cast("decimal(38,0)")
    moms = (
        grid.join(gx, ["lang", "x"])
        .join(gy, ["lang", "y"])
        .groupBy("lang")
        .agg(
            F.sum("c").cast("decimal(38,0)").alias("n"),
            F.sum(d * F.col("rx2")).alias("sx"),
            F.sum(d * F.col("ry2")).alias("sy"),
            F.sum(d * F.col("rx2") * F.col("rx2")).alias("sxx"),
            F.sum(d * F.col("ry2") * F.col("ry2")).alias("syy"),
            F.sum(d * F.col("rx2") * F.col("ry2")).alias("sxy"),
        )
    )
    return moms.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.expr(
            "CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0"
            " THEN CAST(0.0 AS DOUBLE)"
            " ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)"
            "            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "                   * CAST(n * syy - sy * sy AS DOUBLE)), 6)"
            " END"
        ).alias("rho_spearman"),
    )


_CONTING_ORACLE = """
    WITH obs AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    rows_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY source),
    cols_ AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY lang),
    n_ AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT rows_.source, cols_.lang, rows_.r, cols_.c,
               coalesce(obs.o, 0) AS o, (SELECT n FROM n_) AS n
        FROM rows_ CROSS JOIN cols_
        LEFT JOIN obs ON obs.source = rows_.source AND obs.lang = cols_.lang
    ),
    cells AS (
        SELECT source, lang, o,
               CAST((CAST(r AS HUGEINT) * c * 1000000) // n AS BIGINT)
                   AS expected_micro,
               round(CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c
                          AS DOUBLE)
                     / sqrt(CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE)), 6)
                   AS resid,
               (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                   * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                   * 1000000 // (CAST(n AS HUGEINT) * r * c) AS cell_micro,
               n, r, c
        FROM grid
    ),
    tot AS (
        SELECT CAST(sum(cell_micro) AS BIGINT) AS chi2_micro,
               max(n) AS n,
               (SELECT count(*) FROM rows_) AS nr,
               (SELECT count(*) FROM cols_) AS nc
        FROM cells
    )
    SELECT cells.source, cells.lang, cells.o, cells.expected_micro,
           cells.resid,
           round(sqrt(CAST(tot.chi2_micro AS DOUBLE) / 1000000.0
                      / (CAST(tot.n AS DOUBLE)
                         * least(tot.nr - 1, tot.nc - 1))), 6) AS cramers_v
    FROM cells CROSS JOIN tot
"""


@query(
    "agg_contingency_residuals",
    oracle=_CONTING_ORACLE,
    tags=("agg", "stats", "drift"),
)
def agg_contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44: PER-CELL standardized Pearson residuals + Cramér's V over
    the source × lang contingency table — the drill-down companion to
    agg_chi2_independence's one-number test: chi² says "the mix
    differs somewhere", the residual table says WHICH source×lang cell
    is over/under-represented and by how many standard deviations
    (|resid| > 2-3 is the working flag), and V grades the association
    strength on the 0-1 scale comparable across tables of any size.
    Zero-filled grid (the r13 chi² lesson: unobserved cells carry
    (0−E)²/E mass), exact integer cross products in
    DECIMAL(38,0)/HUGEINT, residual = (o·n − r·c)/sqrt(n·r·c) as
    IEEE-identical double ops over exact integers, chi² summed from
    per-cell floor-quantized micro terms so V derives from an exact
    BIGINT on both engines.

    Plan: one corpus-grain collapse to |sources|×|langs| cells, then
    the margin aggregates, the bounded zero-fill grid (allowlisted
    domain-bounded cross join, the KS shape), and one 1-row total
    broadcast back onto the cell grid. Corpus-size-independent after
    the collapse."""
    obs = scoped_persist(
        t(spark, sf_dir, "documents", spread=True)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows_ = obs.groupBy("source").agg(F.sum("o").cast("long").alias("r"))
    cols_ = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("c"))
    n_ = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_.crossJoin(F.broadcast(cols_))
        .join(obs, ["source", "lang"], "left")
        .crossJoin(F.broadcast(n_))
        .select(
            "source", "lang", "r", "c", "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    cells = scoped_persist(
        grid.select(
            "source",
            "lang",
            "o",
            "n",
            F.expr(
                "CAST((CAST(r AS DECIMAL(38,0)) * c * 1000000"
                " - (CAST(r AS DECIMAL(38,0)) * c * 1000000) % n) / n AS BIGINT)"
            ).alias("expected_micro"),
            F.expr(
                "round(CAST(CAST(o AS DECIMAL(38,0)) * n"
                "           - CAST(r AS DECIMAL(38,0)) * c AS DOUBLE)"
                " / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * r * c AS DOUBLE)), 6)"
            ).alias("resid"),
            F.expr(
                "CAST(((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                "  * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                "  * 1000000"
                " - ((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                "    * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
                "    * 1000000) % (CAST(n AS DECIMAL(38,0)) * r * c))"
                " / (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
            ).alias("cell_micro"),
        )
    )
    tot = cells.agg(
        F.sum("cell_micro").cast("long").alias("chi2_micro"),
        F.max("n").alias("n_tot"),
        F.count_distinct("source").cast("long").alias("nr"),
        F.count_distinct("lang").cast("long").alias("nc"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "o",
        "expected_micro",
        "resid",
        F.expr(
            "round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0"
            " / (CAST(n_tot AS DOUBLE) * least(nr - 1, nc - 1))), 6)"
        ).alias("cramers_v"),
    )


_WPCT_ORACLE = """
    WITH grain AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS v,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w
        FROM documents GROUP BY 1, 2
    ),
    cum AS (
        SELECT lang, v, w,
               sum(w) OVER (PARTITION BY lang ORDER BY v) AS cw,
               sum(w) OVER (PARTITION BY lang) AS tw
        FROM grain
    )
    SELECT lang, CAST(max(tw) AS BIGINT) AS total_tokens,
           CAST(min(CASE WHEN 4 * cw >= tw THEN v END) AS BIGINT) AS wp25,
           CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT) AS wp50,
           CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN v END) AS BIGINT) AS wp75
    FROM cum GROUP BY lang
"""


@query(
    "agg_weighted_percentile",
    oracle=_WPCT_ORACLE,
    tags=("agg", "stats", "percentile"),
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45: TOKEN-WEIGHTED quartiles of document length per language —
    "half the TOKENS live in documents shorter than X", the statistic
    a curation pipeline actually budgets with (the unweighted median
    answers about documents; training cost is paid in tokens, and one
    long-doc tail can hold most of the mass). Exact by construction:
    the weighted lower-quantile convention picks the smallest value
    whose cumulative token weight reaches p·W, evaluated with
    cross-multiplied integer comparisons (4·cum ≥ W etc.) — no
    interpolation float on either engine, ever.

    Plan: one corpus-grain collapse to the (lang, n_chars) grain with
    token-sum weights (map-side combinable — the ONLY corpus-sized
    exchange), one lang-keyed cumulative window over the bounded value
    domain sharing that exchange's partitioning, one rank-gated min
    per quartile in the closing |langs|-row aggregate. At 100 TB the
    value domain stays bounded, so everything after the collapse is
    grid work; the unbounded-domain variant swaps the exact grid for
    mergeable KLL sketches (agg_kll_quantiles_ok), trading exactness
    for fixed state — both shelves exist, pick by domain."""
    grain = (
        t(spark, sf_dir, "documents", spread=True)
        .select(
            "lang",
            F.col("n_chars").cast("long").alias("v"),
            F.size(F.split("text", " ")).cast("long").alias("nt"),
        )
        .groupBy("lang", "v")
        .agg(F.sum("nt").cast("long").alias("w"))
    )
    w_ord = Window.partitionBy("lang").orderBy("v")
    w_all = Window.partitionBy("lang")
    cum = grain.select(
        "lang",
        "v",
        F.sum("w").over(w_ord).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return cum.groupBy("lang").agg(
        F.max("tw").cast("long").alias("total_tokens"),
        F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("v")))
        .cast("long")
        .alias("wp25"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v")))
        .cast("long")
        .alias("wp50"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("v")))
        .cast("long")
        .alias("wp75"),
    )


_LOG2H_ORACLE = """
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    b AS (
        SELECT event_type,
               CAST(CASE WHEN cents <= 0 THEN -1
                    ELSE length(format('{:b}', cents)) - 1
               END AS INTEGER) AS bucket,
               cents
        FROM c
    )
    SELECT event_type, bucket,
           CAST(CASE WHEN bucket < 0 THEN 0 ELSE 1::BIGINT << bucket END
                AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY event_type, bucket
"""


@query("agg_log2_histogram", oracle=_LOG2H_ORACLE, tags=("agg", "stats"))
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46: LOG2-BUCKETED value histogram per event type — the
    HdrHistogram/latency-style companion to agg_histogram's equi-width
    buckets: exponential buckets give constant RELATIVE resolution, so
    one histogram covers cents through mega-cents without choosing a
    range up front (the right default for long-tailed value/latency
    columns). The bucket is floor(log2(cents)) computed WITHOUT libm
    on either engine — binary-representation length minus one
    (Spark ``length(bin(v))``, DuckDB ``length(format('{:b}', v))``) —
    so there is no 1-ulp log boundary to flip a power-of-two between
    buckets; non-positive values pin to bucket -1 explicitly.

    Plan: one in-scan projection + one map-side-combinable hash
    aggregate on (type, bucket) — O(types × 64) groups at any corpus
    size, the same mergeable-rollup shape as the sketch family."""
    c = t(spark, sf_dir, "events", spread=True).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    bucket = F.when(F.col("cents") <= 0, F.lit(-1)).otherwise(
        (F.length(F.bin("cents")) - 1).cast("int")
    )
    return (
        c.withColumn("bucket", bucket.cast("int"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            "event_type",
            "bucket",
            F.expr(
                "CAST(CASE WHEN bucket < 0 THEN 0"
                " ELSE shiftleft(CAST(1 AS BIGINT), bucket) END AS BIGINT)"
            ).alias("bucket_lo"),
            "n",
            "sum_cents",
        )
    )


_WELCH_ORACLE = """
    WITH g AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS HUGEINT) AS s1,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2
        FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
    ),
    w AS (
        SELECT max(CASE WHEN lang = 'en' THEN n END) AS n1,
               max(CASE WHEN lang = 'de' THEN n END) AS n2,
               max(CASE WHEN lang = 'en' THEN s1 END) AS a1,
               max(CASE WHEN lang = 'de' THEN s1 END) AS a2,
               max(CASE WHEN lang = 'en' THEN s2 END) AS b1,
               max(CASE WHEN lang = 'de' THEN s2 END) AS b2
        FROM g
    ),
    v AS (
        SELECT n1, n2,
               (a1 * n2 - a2 * n1) * 1000000 // (CAST(n1 AS HUGEINT) * n2)
                   AS mean_diff_micro,
               CAST(n1 * b1 - a1 * a1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS se1,
               CAST(n2 * b2 - a2 * a2 AS DOUBLE)
                   / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS se2,
               CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2 AS md
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_en, CAST(n2 AS BIGINT) AS n_de,
           CAST(mean_diff_micro AS BIGINT) AS mean_diff_micro,
           CASE WHEN n1 > 1 AND n2 > 1 AND se1 + se2 > 0
                THEN round(md / sqrt(se1 + se2), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS t_welch,
           CASE WHEN n1 > 1 AND n2 > 1 AND se1 + se2 > 0
                THEN round((se1 + se2) * (se1 + se2)
                           / (se1 * se1 / (n1 - 1)
                              + se2 * se2 / (n2 - 1)), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS df_welch
    FROM v
"""


@query("agg_welch_ttest", oracle=_WELCH_ORACLE, tags=("agg", "stats", "drift"))
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47: WELCH'S t-TEST between the en and de document-length
    distributions — the unequal-variance two-sample mean comparison
    that closes the drift shelf's parametric corner (A39's
    Mann-Whitney is the rank test, A38's KS the shape test; Welch is
    what you quote when the question is specifically "did the MEAN
    move, and by how many standard errors"). Exactness split: the
    mean difference is published as an exact micro-quantized integer
    ((Σ₁n₂ − Σ₂n₁)·1e6 div n₁n₂ — no float); the t statistic and
    Welch–Satterthwaite df are IEEE-identical double expressions over
    exact DECIMAL(38,0)/HUGEINT moment sums (n·Σx² − (Σx)² is the
    gini-class magnitude — past int64 at scale), with the shared 6-dp
    rounding. Standard-error terms use the n²(n−1) denominator
    identity so both engines divide the same exact integers.
    Degenerate inputs (a single-doc group or zero pooled variance)
    pin t/df to 0.0 identically on both engines — Spark doubles would
    otherwise yield Inf/NaN where DuckDB yields NULL (the same
    engine-divergence seam guarded in agg_ks_source_drift,
    agg_spearman_corr and agg_runs_test).

    Plan: one map-side-combinable 2-group moment aggregate (count,
    Σx, Σx² fused in one pass) + a 1-row pivot and projection —
    corpus-size-independent after the first exchange."""
    g = (
        t(spark, sf_dir, "documents", spread=True)
        .filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s1"),
            F.sum(
                F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")
            ).alias("s2"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("lang") == "en", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("lang") == "de", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("lang") == "en", F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("lang") == "de", F.col("s1"))).alias("a2"),
        F.max(F.when(F.col("lang") == "en", F.col("s2"))).alias("b1"),
        F.max(F.when(F.col("lang") == "de", F.col("s2"))).alias("b2"),
    )
    # se/md factored once so the degenerate-input guard (a single-doc
    # group or zero pooled variance — ADVICE r14) can gate t/df the
    # same way on both engines: Spark doubles would yield Inf/NaN,
    # DuckDB NULL, so both pin to 0.0 when n≤1 or se1+se2 ≤ 0.
    v = w.select(
        "n1",
        "n2",
        "a1",
        "a2",
        F.expr(
            "CAST(n1 * b1 - a1 * a1 AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))"
        ).alias("se1"),
        F.expr(
            "CAST(n2 * b2 - a2 * a2 AS DOUBLE)"
            " / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))"
        ).alias("se2"),
        F.expr("CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2").alias("md"),
    )
    return v.select(
        F.col("n1").cast("long").alias("n_en"),
        F.col("n2").cast("long").alias("n_de"),
        F.expr(
            "CAST(((a1 * n2 - a2 * n1) * 1000000"
            " - ((a1 * n2 - a2 * n1) * 1000000) % (CAST(n1 AS DECIMAL(38,0)) * n2))"
            " / (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
        ).alias("mean_diff_micro"),
        F.expr(
            "CASE WHEN n1 > 1 AND n2 > 1 AND se1 + se2 > 0"
            " THEN round(md / sqrt(se1 + se2), 6)"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("t_welch"),
        F.expr(
            "CASE WHEN n1 > 1 AND n2 > 1 AND se1 + se2 > 0"
            " THEN round((se1 + se2) * (se1 + se2)"
            "            / (se1 * se1 / (n1 - 1)"
            "               + se2 * se2 / (n2 - 1)), 6)"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("df_welch"),
    )


_RUNS_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY x, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    med AS (
        SELECT event_type,
               CAST(sum(CASE WHEN rn = (n + 1) // 2
                             OR rn = (n + 2) // 2 THEN x END) AS BIGINT)
                   * CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END AS m2
        FROM ranked GROUP BY event_type
    ),
    signed AS (
        SELECT d.event_type, d.day,
               CASE WHEN 2 * d.x > m.m2 THEN 1 ELSE -1 END AS s
        FROM daily d JOIN med m ON m.event_type = d.event_type
        WHERE 2 * d.x <> m.m2
    ),
    walked AS (
        SELECT event_type, s,
               lag(s) OVER (PARTITION BY event_type ORDER BY day) AS prev_s
        FROM signed
    ),
    stats AS (
        SELECT event_type,
               CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(1 + sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        FROM walked GROUP BY event_type
    )
    SELECT event_type, n1, n2, n_runs,
           CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 = 1
                     OR 2 * n1 * n2 = n1 + n2 THEN CAST(0.0 AS DOUBLE)
                ELSE round((CAST(n_runs AS DOUBLE)
                            - (2.0 * n1 * n2 / (n1 + n2) + 1))
                           / sqrt(2.0 * n1 * n2
                                  * (2.0 * n1 * n2 - n1 - n2)
                                  / (CAST(n1 + n2 AS DOUBLE)
                                     * (n1 + n2) * (n1 + n2 - 1))), 6)
           END AS z_runs
    FROM stats
"""


@query("agg_runs_test", oracle=_RUNS_ORACLE, tags=("agg", "stats", "drift"))
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48: WALD-WOLFOWITZ RUNS TEST on daily event volume per type —
    the randomness screen the drift shelf was missing: KS/MWU/Welch
    ask whether two samples DIFFER, the runs test asks whether ONE
    series is serially random around its own median (too FEW runs =
    trending/regime-switching days; too MANY = oscillation, the
    load-balancer-flapping signature). Exact combinatorics: the
    median is positional rank arithmetic over integer daily counts
    (the Tukey device — 2x-scaled so even-n halves never touch a
    float), days AT the median drop (the standard convention), runs
    count by one lag over the day order, and z is IEEE-identical
    double arithmetic over the exact (n1, n2, R) triple with the
    shared 6-dp rounding; degenerate series (one-sided, or the
    2·n1·n2 = n1+n2 zero-variance case — n1 = n2 = 1, caught by the
    hypothesis property test) return 0 by guard on both engines.

    Plan: one corpus collapse to (type, day) grain — the only
    corpus-sized exchange; the rank/median/lag windows all run
    type-keyed on the day-grain relation (bounded by the calendar),
    and the median relation broadcasts back (the winsorize/MAD
    trade). Corpus-size-independent after the collapse."""
    daily = scoped_persist(
        t(spark, sf_dir, "events", spread=True)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "x",
        F.row_number().over(w.orderBy("x", "day")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.expr(
            "CAST(sum(CASE WHEN rn = CAST((n + 1) / 2 AS BIGINT)"
            "           OR rn = CAST((n + 2) / 2 AS BIGINT) THEN x END)"
            " * CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END AS BIGINT)"
        ).alias("m2")
    )
    signed = (
        daily.join(F.broadcast(med), "event_type")
        .filter(2 * F.col("x") != F.col("m2"))
        .select(
            "event_type",
            "day",
            F.when(2 * F.col("x") > F.col("m2"), F.lit(1)).otherwise(-1).alias("s"),
        )
    )
    walked = signed.select(
        "event_type",
        "s",
        F.lag("s").over(w.orderBy("day")).alias("prev_s"),
    )
    stats = walked.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("long").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
    )
    return stats.select(
        "event_type",
        "n1",
        "n2",
        "n_runs",
        F.expr(
            "CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 = 1"
            " OR 2 * n1 * n2 = n1 + n2 THEN CAST(0.0 AS DOUBLE)"
            " ELSE round((CAST(n_runs AS DOUBLE)"
            "             - (2.0 * n1 * n2 / (n1 + n2) + 1))"
            "            / sqrt(2.0 * n1 * n2"
            "                   * (2.0 * n1 * n2 - n1 - n2)"
            "                   / (CAST(n1 + n2 AS DOUBLE)"
            "                      * (n1 + n2) * (n1 + n2 - 1))), 6)"
            " END"
        ).alias("z_runs"),
    )


# f-string over the SAME constants the Spark side uses
# (sampling._AB_SALT/_AB_CONTROL_P/_AB_TREAT_P) so a change to the
# allocation contract can never silently desync oracle from
# implementation (ADVICE r14).
_POWER_ORACLE = f"""
    WITH u AS (
        SELECT CAST(('0x' || substr(md5('{_AB_SALT}|'
                     || CAST(user_id AS VARCHAR)),
                     1, 15)) AS BIGINT) % 1000 AS bucket
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    arms AS (
        SELECT CAST(sum(CASE WHEN bucket < {_AB_CONTROL_P}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_c,
               CAST(sum(CASE WHEN bucket >= {_AB_CONTROL_P}
                             AND bucket < {_AB_TREAT_P}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_t
        FROM u
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS HUGEINT)
                   AS s1,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
                        * CAST(floor(value * 100 + 0.5) AS HUGEINT))
                    AS HUGEINT) AS s2
        FROM events GROUP BY event_type
    )
    SELECT m.event_type, arms.n_c AS n_control, arms.n_t AS n_treatment,
           round(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
                 / (CAST(m.n AS DOUBLE) * (m.n - 1)), 6) AS var_cents,
           round(CAST(2.8 AS DOUBLE)
                 * sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
                        / (CAST(m.n AS DOUBLE) * (m.n - 1))
                        * (CAST(1 AS DOUBLE) / arms.n_c
                           + CAST(1 AS DOUBLE) / arms.n_t)), 6)
               AS mde_cents
    FROM m CROSS JOIN arms
    WHERE m.n > 1
"""


@query("agg_ab_power_mde", oracle=_POWER_ORACLE, tags=("agg", "stats", "experiment"))
def agg_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49: MINIMUM DETECTABLE EFFECT for the experiment the allocation
    operator set up — the pre-launch power analysis that completes the
    experimentation trio: sample_ab_allocation assigns the arms,
    THIS op says what effect size those arm counts can actually detect
    (MDE = (z_{α/2}+z_β)·σ·sqrt(1/n_c+1/n_t) with the standard frozen
    2.8 = 1.96+0.84 for 80% power at α=5%), agg_ab_significance judges
    the outcome. Running it per metric (event type) is the real
    workflow: the same arm sizes detect a 2-cent move on a
    high-volume metric and only a 50-cent move on a sparse one.

    Exactness: arm counts replay the ACTUAL md5-bucket allocation (so
    this op and the allocation can never disagree about n), variance
    comes from exact HUGEINT/DECIMAL(38,0) cent moments via the
    n(n−1) identity, and MDE is IEEE-identical double arithmetic over
    those exact integers with the shared 6-dp rounding. The 2.8
    literal parses to the same double on both engines.

    Plan: one distinct-user collapse + one per-type moment aggregate
    (both map-side combinable, sharing the events scan lineage), then
    a 1-row arms broadcast onto |types| rows — the allowlisted scalar
    shape. Corpus-size-independent after the two collapses."""
    ev = t(spark, sf_dir, "events", spread=True)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_AB_SALT + "|"), F.col("user_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    arms = (
        ev.select("user_id")
        .distinct()
        .select(bucket.alias("bucket"))
        .agg(
            F.sum(F.when(F.col("bucket") < _AB_CONTROL_P, 1).otherwise(0))
            .cast("long")
            .alias("n_c"),
            F.sum(
                F.when(
                    (F.col("bucket") >= _AB_CONTROL_P)
                    & (F.col("bucket") < _AB_TREAT_P),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_t"),
        )
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("decimal(38,0)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    return (
        m.filter(F.col("n") > 1)
        .crossJoin(F.broadcast(arms))
        .select(
            "event_type",
            F.col("n_c").alias("n_control"),
            F.col("n_t").alias("n_treatment"),
            F.expr(
                "round(CAST(n * s2 - s1 * s1 AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * (n - 1)), 6)"
            ).alias("var_cents"),
            F.expr(
                "round(CAST(2.8 AS DOUBLE)"
                " * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)"
                "        / (CAST(n AS DOUBLE) * (n - 1))"
                "        * (CAST(1 AS DOUBLE) / n_c"
                "           + CAST(1 AS DOUBLE) / n_t)), 6)"
            ).alias("mde_cents"),
        )
    )


_OLS_EPOCH = "2024-01-01"


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``(event_type, x, y)`` daily event series the trend,
    rank-correlation, changepoint, smoothing and seasonality kernels
    share: x = days since ``_OLS_EPOCH``, y = that day's event count.
    One map-side-combinable corpus exchange; the result is
    domain-bounded (types × days rows). Not persisted here — callers
    that read it more than once wrap it in ``scoped_persist``."""
    return (
        t(spark, sf_dir, "events", spread=True)
        .select(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit(_OLS_EPOCH).cast("date"))
            .cast("long")
            .alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )


_OLS_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM daily GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n, sy,
               n * sxx - sx * sx AS sxx_c,
               n * sxy - sx * sy AS sxy_c,
               n * syy - sy * sy AS syy_c
        FROM m
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(sy AS BIGINT) AS total_events,
           CASE WHEN sxx_c = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(sxy_c * 1000000000 // sxx_c AS BIGINT)
           END AS slope_nano,
           CASE WHEN sxx_c = 0 OR syy_c = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(sxy_c * sxy_c * 1000000 // (sxx_c * syy_c)
                          AS BIGINT)
           END AS r2_micro
    FROM c
"""


@query("events_ols_trend", oracle=_OLS_ORACLE, tags=("stats", "events"))
def events_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51: per-metric DAILY TREND — ordinary-least-squares slope and
    R² of daily event counts against the day index, the "is this
    metric growing and how confidently" screen that pairs with the
    drift shelf (CUSUM says WHEN a level shifted; OLS says the rate
    and fit of a monotone drift). INTEGER-EXACT end to end — the only
    operator-family member with no doubles at all: x is a day index
    from a frozen epoch (slope is shift-invariant; the epoch only
    keeps x small), the five co-moment sums accumulate in
    DECIMAL(38,0)/HUGEINT (n·Σxy − ΣxΣy is the gini-class magnitude),
    slope publishes as nano-units per day via truncating division
    (signed: BOTH engines truncate toward zero — Spark's
    (a − a%b)/b and DuckDB's ``//`` agree on negatives), and
    R² = (nΣxy−ΣxΣy)²·1e6 div ((nΣx²−(Σx)²)(nΣy²−(Σy)²)) is a
    nonnegative exact rational. Degenerate groups (single day) pin
    slope/R² to 0 identically.

    Plan: day-grain collapse (map-side combinable, the ONLY
    corpus-sized pass) then a |types|-group co-moment aggregate over
    ≤ types×days rows — the agg_corr_regr fused-moment shape, one
    exchange each."""
    daily = _daily_counts(spark, sf_dir)
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    c = m.select(
        "event_type",
        "n",
        "sy",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("sxx_c"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("sxy_c"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("syy_c"),
    )
    return c.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("total_events"),
        F.expr(
            "CASE WHEN sxx_c = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((sxy_c * 1000000000"
            "            - (sxy_c * 1000000000) % sxx_c) / sxx_c AS BIGINT)"
            " END"
        ).alias("slope_nano"),
        F.expr(
            "CASE WHEN sxx_c = 0 OR syy_c = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((sxy_c * sxy_c * 1000000"
            "            - (sxy_c * sxy_c * 1000000) % (sxx_c * syy_c))"
            "           / (sxx_c * syy_c) AS BIGINT) END"
        ).alias("r2_micro"),
    )


# CUPED pre-period cut: pre = [fixture start, cut), post = [cut, end].
# Frozen literal inside the events span (contract-tested like the
# tpch date pins).
_CUPED_CUT = "2024-01-16"

_CUPED_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '{_CUPED_CUT}'
                             THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS HUGEINT) AS pre_c,
               CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '{_CUPED_CUT}'
                             THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS HUGEINT) AS post_c
        FROM events GROUP BY user_id
    ),
    armed AS (
        SELECT CASE WHEN bucket < {_AB_CONTROL_P} THEN 'control'
                    ELSE 'treatment' END AS arm,
               pre_c, post_c
        FROM (
            SELECT CAST(('0x' || substr(md5('{_AB_SALT}|'
                         || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 1000 AS bucket,
                   pre_c, post_c
            FROM per_user
        )
        WHERE bucket < {_AB_TREAT_P}
    ),
    pooled AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(pre_c) AS HUGEINT) AS sp,
               CAST(sum(post_c) AS HUGEINT) AS so,
               CAST(sum(pre_c * pre_c) AS HUGEINT) AS spp,
               CAST(sum(pre_c * post_c) AS HUGEINT) AS spo
        FROM armed
    ),
    th AS (
        SELECT n, sp,
               CASE WHEN n * spp - sp * sp <= 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(n * spo - sp * so AS DOUBLE)
                         / CAST(n * spp - sp * sp AS DOUBLE)
               END AS theta,
               CAST(sp AS DOUBLE) / n AS mean_pre_all
        FROM pooled
    ),
    arms AS (
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(pre_c) AS HUGEINT) AS a_pre,
               CAST(sum(post_c) AS HUGEINT) AS a_post
        FROM armed GROUP BY arm
    )
    SELECT a.arm, a.n_users,
           CAST(a.a_pre AS BIGINT) AS sum_pre_cents,
           CAST(a.a_post AS BIGINT) AS sum_post_cents,
           round(CAST(a.a_post AS DOUBLE) / a.n_users, 6) AS mean_post_cents,
           round(CAST(a.a_post AS DOUBLE) / a.n_users
                 - t.theta * (CAST(a.a_pre AS DOUBLE) / a.n_users
                              - t.mean_pre_all), 6) AS cuped_mean_cents,
           round(t.theta, 6) AS theta
    FROM arms a CROSS JOIN th t
"""


@query("agg_ab_cuped", oracle=_CUPED_ORACLE, tags=("agg", "stats", "experiment"))
def agg_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52: CUPED variance reduction for the experiment the allocation
    operator set up — the fourth experimentation op: allocate
    (sample_ab_allocation) → power (agg_ab_power_mde) → THIS
    (pre-period covariate adjustment of the post-period metric) →
    significance (agg_ab_significance). CUPED subtracts
    θ·(pre − mean(pre)) from each arm's post-period mean, with
    θ = cov(pre, post)/var(pre) pooled over both arms (assignment is
    independent of the pre period, so pooling is unbiased and halves
    the estimator noise) — the standard industry lever that makes the
    same arm sizes detect effects 2-3x smaller when the metric is
    sticky per user.

    Exactness: per-user pre/post cent totals are exact conditional
    sums split at a frozen date cut (contract-tested inside the
    fixture span); arm assignment replays the ACTUAL md5-bucket
    allocation (same salt/cuts as the allocator, interpolated from
    sampling.py so they can never desync); θ and the adjusted means
    are IEEE-identical doubles over exact HUGEINT/DECIMAL(38,0)
    co-moments with the shared 6-dp rounding; zero pre-period
    variance pins θ to 0 on both engines (the welch guard class) —
    CUPED then degenerates to the plain mean, which is correct.

    Plan: ONE corpus pass to the user grain (conditional sums fused,
    map-side combinable), bucket assignment in-scan on the collapsed
    relation, then a 1-row pooled-moment broadcast onto the 2-row arm
    rollup — the allowlisted scalar shape."""
    per_user = (
        t(spark, sf_dir, "events", spread=True)
        .select(
            "user_id",
            F.when(
                F.col("ts").cast("date") < F.lit(_CUPED_CUT).cast("date"),
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            )
            .otherwise(0)
            .alias("pre_raw"),
            F.when(
                F.col("ts").cast("date") >= F.lit(_CUPED_CUT).cast("date"),
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            )
            .otherwise(0)
            .alias("post_raw"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.col("pre_raw").cast("decimal(38,0)")).alias("pre_c"),
            F.sum(F.col("post_raw").cast("decimal(38,0)")).alias("post_c"),
        )
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_AB_SALT + "|"), F.col("user_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    from talkdesk_async_etl_spark.plans.cache import scoped_persist

    armed = scoped_persist(
        per_user.select(bucket.alias("bucket"), "pre_c", "post_c")
        .filter(F.col("bucket") < _AB_TREAT_P)
        .select(
            F.when(F.col("bucket") < _AB_CONTROL_P, "control")
            .otherwise("treatment")
            .alias("arm"),
            "pre_c",
            "post_c",
        )
    )
    th = (
        armed.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("pre_c").alias("sp"),
            F.sum("post_c").alias("so"),
            F.sum(F.col("pre_c") * F.col("pre_c")).alias("spp"),
            F.sum(F.col("pre_c") * F.col("post_c")).alias("spo"),
        )
        .select(
            F.expr(
                "CASE WHEN n * spp - sp * sp <= 0 THEN CAST(0.0 AS DOUBLE)"
                " ELSE CAST(n * spo - sp * so AS DOUBLE)"
                "      / CAST(n * spp - sp * sp AS DOUBLE) END"
            ).alias("theta"),
            F.expr("CAST(sp AS DOUBLE) / n").alias("mean_pre_all"),
        )
    )
    arms = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre_c").alias("a_pre"),
        F.sum("post_c").alias("a_post"),
    )
    return arms.crossJoin(F.broadcast(th)).select(
        "arm",
        "n_users",
        F.col("a_pre").cast("long").alias("sum_pre_cents"),
        F.col("a_post").cast("long").alias("sum_post_cents"),
        F.expr("round(CAST(a_post AS DOUBLE) / n_users, 6)").alias(
            "mean_post_cents"
        ),
        F.expr(
            "round(CAST(a_post AS DOUBLE) / n_users"
            " - theta * (CAST(a_pre AS DOUBLE) / n_users - mean_pre_all), 6)"
        ).alias("cuped_mean_cents"),
        F.expr("round(theta, 6)").alias("theta"),
    )


_WOW_ORACLE = """
    WITH weekly AS (
        SELECT event_type,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT w.event_type, w.week, w.n, w.cents,
               p.n AS prev_n, p.cents AS prev_cents
        FROM weekly w
        LEFT JOIN weekly p ON p.event_type = w.event_type
                          AND p.week = w.week - INTERVAL 7 DAY
    )
    SELECT event_type, week, n, cents,
           COALESCE(prev_n, 0) AS prev_n,
           CASE WHEN prev_n IS NULL OR prev_n = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((n - prev_n) * CAST(1000000 AS HUGEINT) // prev_n
                          AS BIGINT) END AS n_wow_micro,
           CASE WHEN prev_cents IS NULL OR prev_cents = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST((cents - prev_cents) * CAST(1000000 AS HUGEINT)
                          // prev_cents AS BIGINT) END AS cents_wow_micro
    FROM lagged
"""


@query("events_wow_change", oracle=_WOW_ORACLE, tags=("stats", "events"))
def events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53: WEEK-OVER-WEEK movers per metric — weekly event counts and
    cent totals with their exact relative change vs the prior
    calendar week, the top-movers table behind every ops dashboard
    (the seasonal shelf's missing grain: dow_baseline reads WITHIN-
    week shape, cusum/ols read the daily trend; THIS reads the
    week-to-week step). Weeks are ISO date_trunc boundaries so both
    engines bucket identically; the change publishes as a SIGNED
    exact micro rational ((n−prev)·1e6 div prev — both engines
    truncate toward zero on negatives, the OLS-slope device);
    missing or zero prior weeks pin the change to 0 with prev_n made
    explicit so a reader can tell "new metric" from "flat".

    Plan: one corpus collapse to the (type, week) grain (count and
    cent sum fused, map-side combinable), then a self-equi-join on
    the shifted week key over the calendar-bounded weekly relation —
    the join carries types×weeks rows at any corpus size. A lag
    window over the same grain would also work; the equi-join keeps
    the grain free of single-partition sorts when |types| is tiny."""
    weekly = scoped_persist(
        t(spark, sf_dir, "events", spread=True)
        .select(
            "event_type",
            F.date_trunc("week", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("week"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        )
        .groupBy("event_type", "week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("cents"),
        )
    )
    prev = weekly.select(
        "event_type",
        F.date_add(F.col("week"), 7).alias("week"),
        F.col("n").alias("prev_n_raw"),
        F.col("cents").alias("prev_cents"),
    )
    return (
        weekly.join(prev, ["event_type", "week"], "left")
        .select(
            "event_type",
            "week",
            "n",
            "cents",
            F.coalesce(F.col("prev_n_raw"), F.lit(0)).cast("long").alias("prev_n"),
            F.expr(
                "CASE WHEN prev_n_raw IS NULL OR prev_n_raw = 0"
                " THEN CAST(0 AS BIGINT)"
                " ELSE CAST(((n - prev_n_raw) * CAST(1000000 AS DECIMAL(38,0))"
                "            - ((n - prev_n_raw) * CAST(1000000 AS DECIMAL(38,0)))"
                "              % prev_n_raw) / prev_n_raw AS BIGINT) END"
            ).alias("n_wow_micro"),
            F.expr(
                "CASE WHEN prev_cents IS NULL OR prev_cents = 0"
                " THEN CAST(0 AS BIGINT)"
                " ELSE CAST(((cents - prev_cents) * CAST(1000000 AS DECIMAL(38,0))"
                "            - ((cents - prev_cents)"
                "               * CAST(1000000 AS DECIMAL(38,0))) % prev_cents)"
                "           / prev_cents AS BIGINT) END"
            ).alias("cents_wow_micro"),
        )
    )


# --- round-15 wave D: trend robustness + seasonal structure ---------

_KENDALL_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_statistic,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.x < b.x
        GROUP BY 1
    ),
    nd AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
    )
    SELECT p.event_type, n.n_days, p.n_pairs, p.s_statistic,
           CAST(p.s_statistic * 1000000 // p.n_pairs AS BIGINT) AS tau_micro
    FROM pairs p JOIN nd n ON p.event_type = n.event_type
"""


@query("agg_kendall_tau", oracle=_KENDALL_ORACLE, tags=("stats", "events"))
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54: KENDALL'S TAU-a rank correlation of daily event counts
    against time — whose numerator S is exactly the MANN-KENDALL
    trend statistic, the standard nonparametric "is this metric
    monotonically trending" test. Complements events_ols_trend: OLS
    measures the RATE of a linear drift (and a single outlier day can
    swing the slope); Mann-Kendall only asks whether later days tend
    to exceed earlier ones, so it survives heavy tails and level
    spikes unchanged.

    INTEGER-EXACT end to end: S = Σ_{{i<j}} sign(y_j − y_i) is a sum
    of {{-1,0,1}} (ties contribute 0 — tau-a), n_pairs = C(n,2), and
    tau publishes as micro-units via the signed truncating-division
    device (both engines truncate toward zero). Types with a single
    active day drop out (no pair exists), so the division is always
    defined.

    Plan: ONE corpus exchange builds the persisted (type, day, count)
    grain; the pair enumeration is a self-join of that DOMAIN-BOUNDED
    relation on the type key (|days|² per type ≤ 435 pairs here —
    never corpus-sized; at a multi-year retention the day grain is
    still ~10³ rows per metric, and the O(n log n) inversion-count
    rewrite is the escape hatch long before the grain ever matters)."""
    daily = scoped_persist(_daily_counts(spark, sf_dir))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_statistic"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return pairs.join(nd, "event_type").select(
        "event_type",
        "n_days",
        "n_pairs",
        "s_statistic",
        F.expr(
            "CAST((s_statistic * 1000000"
            "      - (s_statistic * 1000000) % n_pairs) / n_pairs AS BIGINT)"
        ).alias("tau_micro"),
    )


_CHANGEPOINT_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(y) AS HUGEINT) AS s
        FROM daily GROUP BY 1
    ),
    pre AS (
        SELECT event_type, x,
               CAST(row_number() OVER w AS HUGEINT) AS nl,
               CAST(sum(y) OVER w AS HUGEINT) AS sl
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cand AS (
        SELECT p.event_type, p.x AS split_day_x, t.n, p.nl, t.n - p.nl AS nr,
               p.sl, t.s - p.sl AS sr,
               p.sl * (t.n - p.nl) - (t.s - p.sl) * p.nl AS d
        FROM pre p JOIN tot t ON p.event_type = t.event_type
        WHERE p.nl < t.n
    ),
    scored AS (
        SELECT event_type, split_day_x, n, nl, nr, sl, sr,
               (d * d) // (nl * nr * n) AS gain
        FROM cand
    ),
    best AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY gain DESC, split_day_x ASC) AS rk
        FROM scored
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(split_day_x AS BIGINT) AS split_day_x,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           CAST(gain AS BIGINT) AS gain,
           CAST(sl * 1000000 // nl AS BIGINT) AS mean_left_micro,
           CAST(sr * 1000000 // nr AS BIGINT) AS mean_right_micro
    FROM best WHERE rk = 1
"""


@query(
    "events_changepoint_binary",
    oracle=_CHANGEPOINT_ORACLE,
    tags=("stats", "events", "monitoring"),
)
def events_changepoint_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55: BINARY CHANGEPOINT detection — per metric, the single
    split day that maximizes the between-segment sum of squares, i.e.
    the first recursion step of binary segmentation (the classical
    changepoint algorithm CUSUM alerting graduates into). Answers
    "WHEN did the level shift, and by how much" where
    events_cusum_drift only flags THAT a drift crossed its threshold.

    INTEGER-EXACT argmax: for a split after nl of n days with prefix
    sum sl, the between-group SS gain is (sl·nr − sr·nl)² / (nl·nr·n)
    — evaluated as HUGEINT/DECIMAL(38,0) integers with one truncating
    division (nonnegative, so truncation ≡ floor on both engines); the
    published means are exact micro-units. Tie-break: earliest split
    day. Headroom: |d| ≤ S·n, so d² at a 1e13-event metric with 10
    years of days is ~1e33 — inside DECIMAL(38,0) because gain stays
    unscaled (events² units; no 1e6 multiplier on purpose).

    Plan: ONE corpus exchange to the (type, day, count) grain; the
    prefix window, candidate scoring, and argmax all run on that
    domain-bounded relation (days × types rows), partitioned by type —
    never a single-partition window, never a corpus-sized sort."""
    daily = scoped_persist(_daily_counts(spark, sf_dir))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.select(
        "event_type",
        F.col("x").alias("split_day_x"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("x"))
        .cast("decimal(38,0)")
        .alias("nl"),
        F.sum("y").over(w).cast("decimal(38,0)").alias("sl"),
    )
    cand = (
        pre.join(tot, "event_type")
        .filter(F.col("nl") < F.col("n"))
        .select(
            "event_type",
            "split_day_x",
            "n",
            "nl",
            (F.col("n") - F.col("nl")).alias("nr"),
            "sl",
            (F.col("s") - F.col("sl")).alias("sr"),
            (
                F.col("sl") * (F.col("n") - F.col("nl"))
                - (F.col("s") - F.col("sl")) * F.col("nl")
            ).alias("d"),
        )
    )
    scored = cand.withColumn(
        "gain",
        F.expr(
            "CAST((d * d - (d * d) % (nl * nr * n)) / (nl * nr * n) AS BIGINT)"
        ),
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("gain"), F.asc("split_day_x")
            )
        ),
    ).filter(F.col("rk") == 1)
    return best.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("split_day_x").cast("long").alias("split_day_x"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        "gain",
        F.expr(
            "CAST((sl * 1000000 - (sl * 1000000) % nl) / nl AS BIGINT)"
        ).alias("mean_left_micro"),
        F.expr(
            "CAST((sr * 1000000 - (sr * 1000000) % nr) / nr AS BIGINT)"
        ).alias("mean_right_micro"),
    )


# EWMA smoothing: alpha = 3/10, 28-day lookback. The weight table is
# computed ONCE in exact Python integer arithmetic — w_j =
# floor(1e9 · alpha · (1−alpha)^j) = (1e9·3·7^j) div 10^(j+1) — and
# embedded as the SAME literal array in both engines, so the
# geometric decay never touches floating point anywhere.
_EWMA_LOOKBACK = 28
_EWMA_W = tuple((10**9 * 3 * 7**j) // 10 ** (j + 1) for j in range(_EWMA_LOOKBACK))

_EWMA_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    hist AS (
        SELECT a.event_type, a.x,
               b.y AS yh,
               list_extract([{", ".join(str(w) for w in _EWMA_W)}],
                            CAST(a.x - b.x AS INTEGER) + 1) AS w
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type
         AND b.x <= a.x AND b.x > a.x - {_EWMA_LOOKBACK}
    )
    SELECT event_type, x AS day_x,
           CAST(count(*) AS BIGINT) AS n_present,
           CAST(sum(CAST(yh AS HUGEINT) * w) * 1000000
                // sum(CAST(w AS HUGEINT)) AS BIGINT) AS ewma_micro
    FROM hist GROUP BY 1, 2
"""


@query("events_ewma_smooth", oracle=_EWMA_ORACLE, tags=("stats", "events"))
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A56: EXPONENTIALLY-WEIGHTED moving average of daily event
    counts — the smoother behind every EWMA control chart and the
    denominator of anomaly z-scores on bursty metrics (recent days
    dominate; a level shift decays in ~1/alpha days instead of
    polluting a boxcar window for its whole width). Missing days are
    handled by renormalizing over the weights actually PRESENT in the
    lookback (the standard irregular-series EWMA), so gaps neither
    zero-fill nor bias the level.

    INTEGER-EXACT: the geometric weights are frozen Python-integer
    literals (exact floor of 1e9·α(1−α)^gap — see _EWMA_W), the
    weighted sum and weight total accumulate in HUGEINT/DECIMAL(38,0),
    and the published level is one truncating micro division
    (nonnegative ⇒ floor on both engines). The weight table is the
    adamic-adar device generalized: quantize the transcendental ONCE,
    per bounded domain value, in the driver — never per row, never in
    either engine.

    Plan: ONE corpus exchange to the (type, day, count) grain, then a
    bounded-fan-out range self-join of that domain-sized relation on
    the type key (≤ 28 history rows per anchor day by construction) —
    the join_range_bucket_equi shape without the bucketing, because
    the grain is already domain-bounded at any corpus size."""
    daily = scoped_persist(_daily_counts(spark, sf_dir))
    a, b = daily.alias("a"), daily.alias("b")
    wlit = F.array(*[F.lit(w).cast("long") for w in _EWMA_W])
    hist = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.x") <= F.col("a.x"))
        & (F.col("b.x") > F.col("a.x") - _EWMA_LOOKBACK),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.x").alias("day_x"),
        F.col("b.y").alias("yh"),
        F.element_at(
            wlit, (F.col("a.x") - F.col("b.x")).cast("int") + F.lit(1)
        ).alias("w"),
    )
    return hist.groupBy("event_type", "day_x").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.expr(
            "CAST((sum(CAST(yh AS DECIMAL(38,0)) * w) * 1000000"
            "      - (sum(CAST(yh AS DECIMAL(38,0)) * w) * 1000000)"
            "        % sum(CAST(w AS DECIMAL(38,0))))"
            "     / sum(CAST(w AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ewma_micro"),
    )


# Weekday index as pure integer math: day-index mod 7 from the frozen
# epoch (2024-01-01 is a Monday, so 0 = Monday). Spark `dayofweek` and
# DuckDB `dayofweek` number weekdays differently (1-7 vs 0-6) — the
# mod-7 form sidesteps the seam entirely (cf. events_dow_chi2, which
# instead proves its statistic invariant to the numbering).
_SEASONAL_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    per_dow AS (
        SELECT event_type, CAST(x % 7 AS INTEGER) AS dow,
               CAST(count(*) AS HUGEINT) AS nd,
               CAST(sum(y) AS HUGEINT) AS sd
        FROM daily GROUP BY 1, 2
    ),
    per_type AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(y) AS HUGEINT) AS s
        FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.dow,
           CAST(d.nd AS BIGINT) AS n_days,
           CAST(d.sd AS BIGINT) AS dow_events,
           CAST(d.sd * 1000000 // d.nd AS BIGINT) AS mean_micro,
           CAST((d.sd * t.n - t.s * d.nd) * 1000000
                // (d.nd * t.n) AS BIGINT) AS seasonal_idx_micro
    FROM per_dow d JOIN per_type t ON d.event_type = t.event_type
"""


@query(
    "events_seasonal_decompose",
    oracle=_SEASONAL_ORACLE,
    tags=("stats", "events"),
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A57: WEEKDAY SEASONAL DECOMPOSITION — per (metric, weekday),
    the additive seasonal index (weekday mean minus the metric's
    grand daily mean), i.e. the seasonal component of a classical
    decomposition at the day-of-week period. Downstream of
    events_dow_chi2 (which gates WHETHER seasonality exists) and the
    input window_seasonal_dow_baseline needs: "Mondays run +340
    events above trend" is the adjustment a seasonal-naive forecast
    subtracts before comparing days.

    Weekday = day-index mod 7 from the frozen epoch (a Monday) — pure
    integer arithmetic, immune to the Spark-vs-DuckDB ``dayofweek``
    numbering seam. INTEGER-EXACT: the index is the exact rational
    mean difference (sd·n − s·nd)/(nd·n) in micro-units via the
    signed truncating-division device, co-moments in
    HUGEINT/DECIMAL(38,0).

    Plan: ONE corpus exchange to the day grain; both rollups and the
    5-row-to-35-row equi-join run on domain-bounded relations."""
    daily = scoped_persist(_daily_counts(spark, sf_dir))
    per_dow = daily.groupBy(
        "event_type", F.pmod(F.col("x"), F.lit(7)).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nd"),
        F.sum("y").cast("decimal(38,0)").alias("sd"),
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
    )
    return per_dow.join(per_type, "event_type").select(
        "event_type",
        "dow",
        F.col("nd").cast("long").alias("n_days"),
        F.col("sd").cast("long").alias("dow_events"),
        F.expr(
            "CAST((sd * 1000000 - (sd * 1000000) % nd) / nd AS BIGINT)"
        ).alias("mean_micro"),
        F.expr(
            "CAST(((sd * n - s * nd) * 1000000"
            "      - ((sd * n - s * nd) * 1000000) % (nd * n))"
            "     / (nd * n) AS BIGINT)"
        ).alias("seasonal_idx_micro"),
    )


# --- round-15 wave E: concentration, seasonality strength, churn -----

_HHI_ORACLE = """
    WITH grain AS (
        SELECT event_type, user_id, CAST(count(*) AS HUGEINT) AS c
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n_users,
               CAST(sum(c) AS HUGEINT) AS s,
               CAST(sum(c * c) AS HUGEINT) AS s2
        FROM grain GROUP BY 1
    )
    SELECT event_type,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(s AS BIGINT) AS n_events,
           CAST(s2 * 1000000 // (s * s) AS BIGINT) AS hhi_micro,
           CASE WHEN n_users <= 1 THEN CAST(0 AS BIGINT)
                ELSE CAST(((s2 * 1000000 // (s * s)) * n_users - 1000000)
                          // (n_users - 1) AS BIGINT)
           END AS hhi_norm_micro
    FROM m
"""


@query("agg_hhi_concentration", oracle=_HHI_ORACLE, tags=("agg", "stats"))
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A58: HERFINDAHL-HIRSCHMAN concentration of per-metric volume
    across users — Σ share_u², the "is this metric three whales or a
    crowd" number that complements agg_gini_concentration (Gini reads
    inequality of the distribution's SHAPE; HHI reads effective
    participant count — 1/HHI is the equivalent-equal-users measure,
    and a single dominating user drives HHI → 1 long before Gini
    saturates). The normalized variant rescales [1/n, 1] → [0, 1] so
    metrics with different audience sizes compare.

    INTEGER-EXACT: HHI = Σc²·1e6 div S² over HUGEINT/DECIMAL(38,0)
    sums (c² at a 1e10-event whale is 1e20 — far past int64), and
    the normalization (HHI·n − 1)/(n − 1) is computed FROM the
    quantized micro value in plain BIGINT range (never a 1e41
    intermediate), identically on both engines; single-user metrics
    pin the normalization to 0.

    Plan: one (type, user)-grain exchange (map-side combinable), one
    |types|-group moment rollup — the agg_corr_regr shape; the
    shuffled relation is O(users), never O(events)."""
    grain = (
        t(spark, sf_dir, "events", spread=True)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    m = grain.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_users"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return m.select(
        "event_type",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("s").cast("long").alias("n_events"),
        F.expr(
            "CAST((s2 * 1000000 - (s2 * 1000000) % (s * s)) / (s * s)"
            " AS BIGINT)"
        ).alias("hhi_micro"),
        F.expr(
            "CASE WHEN n_users <= 1 THEN CAST(0 AS BIGINT) ELSE"
            " CAST((CAST((s2 * 1000000 - (s2 * 1000000) % (s * s)) / (s * s)"
            "            AS BIGINT) * n_users - 1000000"
            "       - (CAST((s2 * 1000000 - (s2 * 1000000) % (s * s)) / (s * s)"
            "               AS BIGINT) * n_users - 1000000) % (n_users - 1))"
            "      / (n_users - 1) AS BIGINT) END"
        ).alias("hhi_norm_micro"),
    )


_SEASTR_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    per_dow AS (
        SELECT event_type, CAST(x % 7 AS INTEGER) AS dow,
               CAST(count(*) AS HUGEINT) AS nd,
               CAST(sum(y) AS HUGEINT) AS sd
        FROM daily GROUP BY 1, 2
    ),
    per_type AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(y) AS HUGEINT) AS s,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM daily GROUP BY 1
    ),
    ssb AS (
        SELECT d.event_type,
               CAST(sum((d.sd * t.n - t.s * d.nd) * (d.sd * t.n - t.s * d.nd)
                        // (d.nd * t.n * t.n)) AS HUGEINT) AS ssb
        FROM per_dow d JOIN per_type t ON d.event_type = t.event_type
        GROUP BY 1
    )
    SELECT t.event_type,
           CAST(t.n AS BIGINT) AS n_days,
           CAST(b.ssb AS BIGINT) AS ssb,
           CAST((t.n * t.syy - t.s * t.s) // t.n AS BIGINT) AS sst,
           CASE WHEN (t.n * t.syy - t.s * t.s) // t.n = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST(b.ssb * 1000000
                          // ((t.n * t.syy - t.s * t.s) // t.n) AS BIGINT)
           END AS strength_micro
    FROM per_type t JOIN ssb b ON b.event_type = t.event_type
"""


@query(
    "events_seasonality_strength",
    oracle=_SEASTR_ORACLE,
    tags=("stats", "events"),
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A59: SEASONALITY STRENGTH per metric — the share of daily-count
    variance explained by the weekday (between-dow sum of squares over
    total), the one-number effect size that orders metrics by HOW
    seasonal they are where events_dow_chi2 only tests WHETHER the
    effect exists (at 1e13 events chi-square rejects on trivia; this
    stays a bounded fraction) and events_seasonal_decompose publishes
    the per-weekday shape.

    Integer-exact via PER-TERM quantization: each weekday's
    between-group term (sd·n − s·nd)²/(nd·n²) and the total SS
    (n·Σy² − s²)/n floor to UNSCALED integers (events² units — the
    changepoint headroom device: no 1e6 multiplier on the ~1e33
    numerators, so DECIMAL(38,0) holds at a 1e13-event metric), then
    strength = ssb·1e6 div sst over the two quantized sums —
    deterministic on both engines; the ≤7-term floors can nudge the
    published ratio by at most 7/sst around the true value (and a
    hair past 1e6 only when SSB ≈ SST exactly). Zero-variance
    metrics pin 0.

    Plan: ONE corpus exchange to the day grain; the dow rollup, type
    moments, and their equi-join all run on domain-bounded relations."""
    daily = scoped_persist(_daily_counts(spark, sf_dir))
    per_dow = daily.groupBy(
        "event_type", F.pmod(F.col("x"), F.lit(7)).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nd"),
        F.sum("y").cast("decimal(38,0)").alias("sd"),
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    term = F.expr(
        "CAST(((sd * n - s * nd) * (sd * n - s * nd)"
        "      - ((sd * n - s * nd) * (sd * n - s * nd)) % (nd * n * n))"
        "     / (nd * n * n) AS DECIMAL(38,0))"
    )
    ssb = (
        per_dow.join(per_type, "event_type")
        .select("event_type", term.alias("term"))
        .groupBy("event_type")
        .agg(F.sum("term").alias("ssb"))
    )
    sst = F.expr(
        "CAST(((n * syy - s * s) - (n * syy - s * s) % n) / n AS DECIMAL(38,0))"
    )
    return (
        per_type.withColumn("sst", sst)
        .join(ssb, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("ssb").cast("long").alias("ssb"),
            F.col("sst").cast("long").alias("sst"),
            F.expr(
                "CASE WHEN sst = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST((ssb * 1000000 - (ssb * 1000000) % sst) / sst"
                "           AS BIGINT) END"
            ).alias("strength_micro"),
        )
    )


_CHURN_ORACLE = """
    WITH grain AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week
        FROM events
    ),
    shifted AS (
        SELECT user_id, week + INTERVAL 7 DAY AS week FROM grain
    ),
    flags AS (
        SELECT coalesce(g.user_id, s.user_id) AS user_id,
               coalesce(g.week, s.week) AS week,
               CASE WHEN g.user_id IS NOT NULL THEN 1 ELSE 0 END AS cur,
               CASE WHEN s.user_id IS NOT NULL THEN 1 ELSE 0 END AS prev
        FROM grain g
        FULL OUTER JOIN shifted s
          ON s.user_id = g.user_id AND s.week = g.week
    ),
    weekly AS (
        SELECT CAST(week AS DATE) AS week,
               CAST(sum(cur) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN cur = 1 AND prev = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN cur = 1 AND prev = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN cur = 0 AND prev = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_churned,
               CAST(sum(prev) AS BIGINT) AS n_prev_active
        FROM flags GROUP BY 1
    )
    SELECT week, n_active, n_new, n_retained, n_churned,
           CASE WHEN n_prev_active = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(n_churned * 1000000 // n_prev_active AS BIGINT)
           END AS churn_rate_micro
    FROM weekly
"""


@query(
    "events_user_churn_weekly",
    oracle=_CHURN_ORACLE,
    tags=("stats", "events", "monitoring"),
)
def events_user_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A60: WEEKLY USER CHURN — per calendar week, how many active
    users are new, retained from last week, or churned (active last
    week, silent this week), with the churn rate against the prior
    week's active base. The missing grain between agg_rolling_wau
    (a smoothed level that hides WHO left) and agg_cohort_retention
    (signup-cohort survival — this is period-over-period flow). The
    week AFTER the last active week appears with n_active = 0 and
    its churn row: the users who went silent at the data's edge are
    reported, not dropped — the semantics a live monitoring feed
    needs.

    Exact integers throughout: the user-week grain is a distinct
    collapse, the prior-week presence is the same grain shifted
    forward 7 days and full-outer-joined on (user, week), flow
    counts are plain sums of indicator flags, and the rate is one
    truncating micro division (n_prev = 0 ⇒ n_churned = 0, pinned 0).

    Plan: ONE corpus exchange to the distinct (user, week) grain;
    the shifted self-join shuffles only that grain on its natural
    key (O(active users × weeks), never O(events)); the weekly
    rollup is map-side combinable on ≤ |weeks|+1 groups."""
    grain = scoped_persist(
        t(spark, sf_dir, "events", spread=True)
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .distinct()
    )
    shifted = grain.select(
        "user_id", F.date_add(F.col("week"), 7).alias("week")
    )
    g, s = grain.alias("g"), shifted.alias("s")
    flags = g.join(
        s,
        (F.col("g.user_id") == F.col("s.user_id"))
        & (F.col("g.week") == F.col("s.week")),
        "full_outer",
    ).select(
        F.coalesce(F.col("g.week"), F.col("s.week")).alias("week"),
        F.when(F.col("g.user_id").isNotNull(), 1).otherwise(0).alias("cur"),
        F.when(F.col("s.user_id").isNotNull(), 1).otherwise(0).alias("prev"),
    )
    weekly = flags.groupBy("week").agg(
        F.sum("cur").cast("long").alias("n_active"),
        F.sum(F.when((F.col("cur") == 1) & (F.col("prev") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when((F.col("cur") == 1) & (F.col("prev") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when((F.col("cur") == 0) & (F.col("prev") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_churned"),
        F.sum("prev").cast("long").alias("n_prev_active"),
    )
    return weekly.select(
        "week",
        "n_active",
        "n_new",
        "n_retained",
        "n_churned",
        F.expr(
            "CASE WHEN n_prev_active = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((n_churned * 1000000 - (n_churned * 1000000)"
            "            % n_prev_active) / n_prev_active AS BIGINT) END"
        ).alias("churn_rate_micro"),
    )


# Hour-of-day as pure integer math on epoch microseconds — immune to
# session-timezone and engine hour() seams (the dow mod-7 argument at
# hour grain; both engines store the same UTC instant).
_HOURPROF_ORACLE = """
    WITH per AS (
        SELECT event_type,
               CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
                    AS INTEGER) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS tn FROM per GROUP BY 1
    ),
    flagged AS (
        SELECT p.event_type, p.hour, p.n, t.tn,
               row_number() OVER (PARTITION BY p.event_type
                                  ORDER BY p.n DESC, p.hour ASC) AS rk
        FROM per p JOIN tot t ON t.event_type = p.event_type
    )
    SELECT event_type, hour, n,
           CAST(n * 1000000 // tn AS BIGINT) AS share_micro,
           CAST(rk = 1 AS INTEGER) AS is_peak
    FROM flagged
"""


@query(
    "events_hour_profile", oracle=_HOURPROF_ORACLE, tags=("stats", "events")
)
def events_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A61: HOUR-OF-DAY load profile per metric — each active hour's
    exact share of the metric's volume with the peak hour flagged,
    the within-day shape that pairs with the weekday shelf (A57/A59
    read the week's shape; capacity planning, rate-limit sizing, and
    maintenance-window placement read the day's). Hour = epoch-micros
    div 3600000000 mod 24 — pure integer arithmetic on the stored UTC
    instant, immune to session-timezone and engine hour() numbering
    seams (the dow mod-7 device at hour grain).

    Exact: shares are one truncating micro division over BIGINT
    counts; the peak is a deterministic argmax (count desc, hour asc)
    over the ≤24-row per-type relation.

    Plan: ONE corpus exchange to the (type, hour) grain (map-side
    combinable, ≤ 24·|types| groups); the total rollup, equi-join,
    and peak window all run on that domain-bounded relation."""
    per = (
        t(spark, sf_dir, "events", spread=True)
        .groupBy(
            "event_type",
            F.expr(
                "CAST((unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) % 24"
                " AS INT)"
            ).alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = per.groupBy("event_type").agg(F.sum("n").cast("long").alias("tn"))
    flagged = per.join(tot, "event_type").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("hour"))
        ),
    )
    return flagged.select(
        "event_type",
        "hour",
        "n",
        F.expr(
            "CAST((n * 1000000 - (n * 1000000) % tn) / tn AS BIGINT)"
        ).alias("share_micro"),
        (F.col("rk") == 1).cast("int").alias("is_peak"),
    )
