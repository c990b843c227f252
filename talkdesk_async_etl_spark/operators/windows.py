"""Window functions (SURVEY.md §2.5 W1-W4).

The reference has no window functions; its monitoring workload implies
them (latest run per report, run-over-run deltas, moving 7-day sums —
README.md:447-500). All windows carry a unique tie-break key
(o_orderkey) so ranking is deterministic for the oracle comparison.

Scale note: a window over ``partitionBy(k)`` is one shuffle on k plus a
per-partition sort — same cost envelope as a groupBy on k. Skewed
partition keys (one customer with 10^9 orders) are the hazard; the
top-k-per-group pattern below keeps state at O(rows-in-partition), and
for heavy-hitter keys the two-phase "partial top-k per map task, then
final window" variant applies (see similarity.py for an instance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.plans.cache import scoped_persist
from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.sources.io import read_table as t


@query(
    "window_row_number",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    tags=("window",),
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest row per key — the "dedup to latest run" version of the
    reference's per-report monitoring query (README.md:462-471)."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@query(
    "window_lag",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(o_totalprice - lag(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS price_delta
        FROM orders
    """,
    tags=("window",),
)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag analytic — run-over-run delta per key (the reference's
    run-over-run rows_written comparison implied by README.md:491-500).
    First row per key yields NULL, preserved for the oracle."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("price_delta"),
    )


@query(
    "window_moving_frame",
    oracle="""
        WITH daily AS (
            SELECT l_returnflag,
                   date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day_num,
                   sum(l_quantity) AS day_qty
            FROM lineitem GROUP BY 1, 2
        )
        SELECT l_returnflag, day_num,
               round(sum(day_qty) OVER (
                   PARTITION BY l_returnflag ORDER BY day_num
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS qty_7d
        FROM daily
    """,
    tags=("window",),
)
def window_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: moving 7-day frame over a daily pre-aggregate (windowed
    version of the reference's daily summary, README.md:491-500).
    Two-level: groupBy collapses ~10^11 rows to ~10^4 days before the
    window runs — the window never sees raw fact rows. RANGE frame on a
    numeric day index handles calendar gaps correctly (a ROWS frame
    would span across missing days)."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("day_num"),
    ).agg(F.sum("l_quantity").alias("day_qty"))
    w = Window.partitionBy("l_returnflag").orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "l_returnflag",
        "day_num",
        F.round(F.sum("day_qty").over(w), 2).alias("qty_7d"),
    )


@query(
    "window_topk_per_group",
    oracle="""
        SELECT o_orderpriority, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    tags=("window",),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: top-K per group. Spark pushes a per-partition rank limit
    (WindowGroupLimit since 3.5) before the shuffle, so each map task
    forwards ≤K rows per key — the shuffle carries O(K·groups), not the
    full table. Verify in .explain: ``WindowGroupLimit``."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "window_rank_family",
    # Ordering is fully tie-broken by o_orderkey, so every ranking
    # function is deterministic and the percent/cume fractions are
    # exact ratios of small integers — rounded identically on both
    # engines.
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(rank()       OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               round(percent_rank() OVER w, 6) AS prnk,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-02-01'
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    tags=("window",),
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 completion: the full ranking family — rank, dense_rank,
    percent_rank, ntile(4), cume_dist — over one shared window, the
    way a report-latency dashboard buckets runs into quartiles. One
    shuffle on the partition key serves all five functions (a single
    Window node in the plan); the month filter pushes into the scan
    and bounds the result."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("date"))
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


@query(
    "window_event_transitions",
    # Exact-integer gap accounting: the microsecond diff is an exact
    # BIGINT in both engines (the funnel twin's proven pattern), and
    # SUM of BIGINTs is order-independent — no double-rounding hazard
    # an avg would reintroduce. The per-user order is fully tie-broken
    # by event_id so lag() is deterministic.
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   CAST(ts AS TIMESTAMP) AS ts,
                   lag(event_type) OVER w AS prev_type,
                   lag(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
        )
        SELECT prev_type, event_type AS curr_type,
               CAST(count(*) AS BIGINT) AS n_transitions,
               CAST(sum(date_diff('microseconds', prev_ts, ts)) AS BIGINT)
                   AS total_gap_us
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, curr_type
    """,
    tags=("window", "analytics"),
)
def window_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 depth: event-path analysis — the (previous event → current
    event) transition matrix per user journey, with total dwell time
    per edge. This is the funnel diagnostic behind stream_funnel_state:
    which step users actually take next, and how long they linger. The
    reference has nothing like it; any product analytics workload does.

    Plan: ONE window shuffle on user_id serves both lag()s (shared
    window spec → a single Window node), then a transition-matrix-sized
    hash aggregate (|event_types|² rows — tiny at any corpus scale, so
    the second exchange carries effectively nothing). Per-user skew is
    the window hazard at 100 TB; a mega-user's partition sorts alone,
    which AQE cannot split — the mitigation is the time-bucket salt
    documented in operators/asof.py, with boundary rows carried over."""
    ev = t(spark, sf_dir, "events", spread=True)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .select(
            "prev_type",
            F.col("event_type").alias("curr_type"),
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us"),
        )
        .groupBy("prev_type", "curr_type")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
        )
    )


@query(
    "window_range_time",
    # No duplicate (user, ts) pairs exist in the fixture (pinned by
    # the testdata contract test), so the RANGE frame contents are
    # identical on both engines; the sum is ~tens of 2-dp values, so
    # the shared 2-dp round sits ~10 orders of magnitude from any
    # boundary.
    oracle="""
        SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(sum(value) OVER w, 2) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "timeseries"),
)
def window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 completion: a TIME-interval RANGE frame — each event's
    trailing-1-hour activity (count + value sum) per user, the
    rate-limiter / burst-detection window. Unlike W3's day-grain
    numeric frame, the frame edge here is a wall-clock offset on the
    raw timestamps: the DataFrame API expresses it as
    ``rangeBetween(-3600, 0)`` over unix-seconds ordering (the
    interval-literal SQL form compiles to the same RangeFrame). Cost
    is identical to any window: ONE shuffle on user_id +
    per-partition sort; the frame scan is incremental (Spark's
    unbounded-preceding-style sliding aggregation), never a per-row
    re-scan — at 100 TB the only hazard is a single user's history in
    one partition, the same skew caveat as every per-key window
    (salt by time bucket with boundary carry-in)."""
    ev = t(spark, sf_dir, "events", spread=True)
    # MICROsecond ordering, not unix_timestamp: the fixture's ts is
    # TIMESTAMP(MICROS), and second-truncated ordering silently widens
    # the frame for events within the truncated fraction of the 1-hour
    # edge (found at sf0.1: one event pair exactly straddled it —
    # Spark counted 2 in-window, DuckDB's full-precision INTERVAL
    # comparison counted 1).
    # unix_micros requires TIMESTAMP (not the parquet reader's
    # TIMESTAMP_NTZ); the cast is value-preserving in the UTC session.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


_FFILL_ORACLE = """
    WITH base AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        FROM events
    ), filled AS (
        SELECT user_id,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        FROM base
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(fv) AS BIGINT) AS n_defined,
           CAST(sum(CAST(floor(fv * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS filled_sum_micros
    FROM filled
    GROUP BY user_id
"""


@query("window_fill_forward", oracle=_FFILL_ORACLE, tags=("window", "timeseries"))
def window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: forward-fill (last observation carried forward) — the
    time-series gap-repair primitive sensor/metrics pipelines apply
    before any windowed aggregate. NULLs are injected deterministically
    (every event_id divisible by 3 loses its value, ~33% of rows) so
    both engines fill the SAME gaps; the fill is
    ``last(v, ignorenulls=True)`` over the per-user event order — one
    shuffle on user_id plus a per-partition sort, no self-join, no
    as-of join. Rows before a user's first defined value stay NULL
    (count(fv) < count(*) attests that leading-edge behavior). The
    per-user sum of filled values is quantized to integer micros with
    the shared floor(v·1e6 + 0.5) double expression — the fixture's
    2-dp values sit ON decimal boundaries, exactly the case where
    engine round() implementations diverge (see ROUND_NOTES round 7) —
    so the aggregate is an exact, order-independent BIGINT on both
    engines. Scale: the window frame is running-state (last non-null),
    O(1) per row; skew bounded by max-events-per-user, same envelope
    as every per-user window in the suite."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    base = ev.withColumn(
        "v", F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("fv", F.last("v", ignorenulls=True).over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("fv").alias("n_defined"),
            F.sum(F.floor(F.col("fv") * 1e6 + F.lit(0.5)).cast("bigint")).alias(
                "filled_sum_micros"
            ),
        )
    )


_SESSIONIZE_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap

_SESSIONIZE_ORACLE = f"""
    WITH o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(CAST(ts AS TIMESTAMP))
                        - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                        > {_SESSIONIZE_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM o
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_micros
    FROM s GROUP BY user_id, session_no
"""


@query("window_sessionize_gap", oracle=_SESSIONIZE_ORACLE, tags=("window", "sessionize"))
def window_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: gaps-and-islands sessionization — the classic two-window
    formulation (lag to flag a >30-min inactivity gap, running sum of
    flags to number the islands) producing ORDINAL session ids and
    per-session stats. This is the window-native complement to the
    built-in ``session_window`` twin (stream_session): the built-in
    merges rows into [start, end) intervals but cannot hand you "this
    user's 3rd session" or compose with other frames; the
    gaps-and-islands form is what warehouse SQL migrations actually
    carry. Both windows share partitionBy(user_id).orderBy(ts,
    event_id) → ONE shuffle + one sort serve the lag, the cumulative
    sum, AND (via the same hashpartitioning) the final per-session
    aggregate. Gap arithmetic is unix-MICROS (the window_range_time
    lesson: second-truncated timestamps silently misclassify
    sub-second-straddling gaps); every output is an exact BIGINT.
    Scale: per-user state is O(1) running state; skew bounded by
    max-events-per-user, the suite's standard per-user-window
    envelope."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros requires TIMESTAMP (the parquet reader yields NTZ).
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_micros = F.lag(micros).over(w)
    is_new = F.when(
        prev_micros.isNull() | ((micros - prev_micros) > _SESSIONIZE_GAP_US), 1
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_no",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("dur_micros"),
        )
    )


_PAT_STEP_US = 48 * 3600 * 1_000_000  # each step within 48 h of the previous
# (median inter-event gap is ~7.4 h at every fixture SF — a 1 h bound is
# vacuous; 48 h matches a meaningful fraction, probed below)
_PAT_NONE = 1 << 60  # sentinel: "no qualifying prior step"

_PATTERN_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ), v AS (
        SELECT *, last_value(CASE WHEN event_type = 'view' THEN ts_us END
                             IGNORE NULLS) OVER w AS last_view_us
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING)
    ), c AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'click' THEN ts_us END
                          IGNORE NULLS) OVER w AS last_click_us,
               last_value(CASE WHEN event_type = 'click'
                               THEN coalesce(ts_us - last_view_us, {_PAT_NONE})
                          END IGNORE NULLS) OVER w AS click_view_gap_us
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(*) FILTER (
                last_click_us IS NOT NULL
                AND ts_us - last_click_us <= {_PAT_STEP_US}
                AND click_view_gap_us <= {_PAT_STEP_US}) AS BIGINT)
               AS n_pattern
    FROM c
    WHERE event_type = 'purchase'
    GROUP BY user_id
"""


@query("window_match_pattern", oracle=_PATTERN_ORACLE, tags=("window", "pattern"))
def window_match_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: ordered event-pattern detection (MATCH_RECOGNIZE-style) —
    per user, purchases completing the strict view → click → purchase
    sequence with EACH step within 48 h of the previous. Spark has no
    MATCH_RECOGNIZE; the pattern compiles to chained running carries
    over ONE per-user sorted pass: carry the last view time; at every
    click, freeze that click's view-gap; carry the frozen (click time,
    click→view gap) pair forward; a purchase matches iff both carried
    gaps are within the step bound. The frozen gap uses a BIGINT
    sentinel (2^60 = "click had no prior view") instead of NULL so the
    ignore-nulls carry can never skip past the LATEST click to an
    older one that happened to have a view — the subtle bug a naive
    two-carry formulation has; both engines run the identical integer
    logic, so outputs are exact. One shuffle + one sort serve all
    three carries AND (clustering subset) the per-user rollup vs the
    event_transitions op's adjacent-pair matrix, this is the
    arbitrary-depth ordered-pattern shape: add a step = add a carry,
    still one pass. Scale: O(1) running state per row, per-user-window
    envelope."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us.asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_type = lambda s: F.col("event_type") == s  # noqa: E731
    last_view = F.last(F.when(is_type("view"), ts_us), ignorenulls=True).over(w)
    staged = ev.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us"),
        F.last(F.when(is_type("click"), ts_us), ignorenulls=True).over(w).alias("last_click_us"),
        F.last(
            F.when(
                is_type("click"),
                F.coalesce(ts_us - last_view, F.lit(_PAT_NONE)),
            ),
            ignorenulls=True,
        ).over(w).alias("click_view_gap_us"),
    )
    matched = (
        F.col("last_click_us").isNotNull()
        & ((F.col("ts_us") - F.col("last_click_us")) <= _PAT_STEP_US)
        & (F.col("click_view_gap_us") <= _PAT_STEP_US)
    )
    return (
        staged.filter(is_type("purchase"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.when(matched, 1).otherwise(0)).alias("n_pattern"),
        )
    )


_ATTR_ORACLE = """
    WITH touched AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS channel
        FROM events
    )
    SELECT coalesce(channel, '(direct)') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1
"""


@query("window_attribution_last_touch", oracle=_ATTR_ORACLE, tags=("window", "events"))
def window_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: last-touch revenue attribution — every purchase is credited
    to the user's most recent PRECEDING non-purchase event (the
    channel), purchases with no prior touch credit '(direct)'. The
    classic marketing-analytics consumer of an event stream, and the
    conditional cousin of window_fill_forward's last-ignorenulls: the
    carried value is a projection of OTHER row types, so a purchase
    right after another purchase must skip backward over it to the
    real touch — an unconditioned lag(1) gets that wrong. Ordering is the
    total (ts, event_id) key, so same-timestamp events attribute
    identically on both engines; revenue is quantized to exact cents
    via floor(value·100 + 0.5) BEFORE summation (a double revenue sum
    is partial-agg-order-dependent).

    Scale shape: one user-keyed exchange for the window; the
    aggregate's channel key is low-cardinality, so the final rollup is
    map-side-combinable on top of the window's output partitions."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        t(spark, sf_dir, "events", spread=True)
        .select("event_type", "value", touch.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("(direct)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


_STREAK_ORACLE = """
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
                   AS day_idx
        FROM events
    ),
    grouped AS (
        SELECT user_id, day_idx,
               day_idx - row_number() OVER (PARTITION BY user_id
                                            ORDER BY day_idx) AS grp
        FROM active
    ),
    streaks AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
"""


@query("window_activity_streaks", oracle=_STREAK_ORACLE, tags=("window", "events"))
def window_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: per-user activity STREAKS — the canonical gaps-and-islands
    on DATES (engagement dashboards' "longest streak" tile): collapse
    events to distinct (user, day), then day_index − row_number is
    constant exactly within a run of consecutive days, so one grouping
    on that difference yields every streak; per user emit total active
    days, longest streak, and streak count. Pure integer arithmetic
    end to end (epoch-day indices), so the engines agree exactly.
    Differs from window_sessionize_gap, which islands on TIMESTAMP
    gaps within a day — this is the calendar-grain variant with the
    rank-difference idiom instead of a lag-threshold cumsum.

    Scale shape: the only corpus-sized pass is the distinct to
    (user, day) grain (one exchange, map-side combinable); the window
    and both aggregates share the user partitioning on day-grain rows
    (≤365·users/year regardless of event volume)."""
    active = (
        t(spark, sf_dir, "events", spread=True)
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
                "day_idx"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day_idx")
    grouped = active.select(
        "user_id",
        "day_idx",
        (F.col("day_idx") - F.row_number().over(w)).alias("grp"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


_CUMDIST_ORACLE = """
    WITH first_day AS (
        SELECT user_id,
               min(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')
                   AS d
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n_new
        FROM first_day GROUP BY d
    )
    SELECT CAST(d AS INT) AS epoch_day, n_new,
           CAST(sum(n_new) OVER (ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_users
    FROM daily
"""


@query("window_cumulative_distinct", oracle=_CUMDIST_ORACLE, tags=("window", "events"))
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: cumulative DISTINCT users to date — the growth-dashboard
    curve ("total users ever") that naive windowing gets quadratically
    wrong. A running count(DISTINCT) frame re-scans every prior row
    per day; the identity `cumulative distinct = cumsum of first-seen
    counts` reduces it to: min(day) per user (one map-side-combinable
    exchange), count per first-day, then a running sum over the tiny
    day-grain relation. Pure epoch-day integers, so the engines agree
    exactly. Also emits per-day n_new — the DAU-acquisition split.

    Scale shape: the only corpus-sized pass is the per-user min
    (partial agg in the scan); the running-sum window orders a
    |days|-sized relation — the single-partition global window is ~365
    rows/year regardless of event volume, which is exactly when a
    global window is the RIGHT plan (same ruling as sort_topk_global's
    final stage)."""
    e = t(spark, sf_dir, "events", spread=True)
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    first = e.select("user_id", day.alias("d")).groupBy("user_id").agg(
        F.min("d").alias("d")
    )
    daily = first.groupBy("d").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").cast("int").alias("epoch_day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


_ROLLMED_FRAME = 6  # current row + 6 preceding = 7-event window

_ROLLMED_ORACLE = f"""
    WITH c AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    sm AS (
        SELECT user_id,
               row_number() OVER w AS rn,
               quantile_cont(cents, 0.5) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN {_ROLLMED_FRAME} PRECEDING AND CURRENT ROW)
                   AS med
        FROM c
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           max(med) AS med_max,
           arg_max(med, rn) AS med_last
    FROM sm GROUP BY user_id
"""


@query("window_rolling_median", oracle=_ROLLMED_ORACLE, tags=("window", "events"))
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: EXACT rolling median — the robust smoother dashboards want
    where a rolling MEAN (window_moving_frame) is one outlier away
    from useless: per user, the median of the last 7 event values over
    the (ts, event_id) total order, summarized per user as the
    smoothed peak and the final smoothed level. Values are exact
    cents, and a 7-row median is either an integer or a .5 half — both
    exactly representable doubles with both engines using the same
    linear-interpolation convention (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``), so no rounding pin is needed.

    Scale shape: ONE user-keyed exchange serves the median window, the
    row-number window (shared WINDOW spec), and the final per-user
    aggregate. The frame holds ≤7 values per row, so per-row median
    state is O(frame), not O(partition) — an exact rolling median over
    a 10^6-row frame would instead want the two-heap/indexed-tree
    custom stateful operator, which is the applyInPandasWithState
    escalation path documented in streaming/."""
    e = t(spark, sf_dir, "events", spread=True).select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sm = e.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.expr(f"percentile(cents, 0.5)")
        .over(w.rowsBetween(-_ROLLMED_FRAME, 0))
        .alias("med"),
    )
    return sm.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("med").alias("med_max"),
        F.expr("max_by(med, rn)").alias("med_last"),
    )


_FT_ATTR_ORACLE = """
    WITH touched AS (
        SELECT event_type, value,
               first_value(CASE WHEN event_type <> 'purchase'
                                THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS channel
        FROM events
    )
    SELECT coalesce(channel, '(direct)') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1
"""


@query("window_attribution_first_touch", oracle=_FT_ATTR_ORACLE, tags=("window", "events"))
def window_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11b: FIRST-touch revenue attribution — every purchase credits
    the EARLIEST preceding non-purchase event in the user's history
    (acquisition credit) where the last-touch twin credits the most
    recent (conversion credit); marketing teams run both and read the
    spread. Same engine-identical machinery as W11 — the (ts,
    event_id) total order, IGNORE NULLS over a typed projection, exact
    cents — with ``first_value`` replacing ``last`` so a user's later
    touches can never steal acquisition credit, and purchases before
    any touch stay '(direct)'.

    Scale shape: identical to last-touch — one user-keyed exchange
    serves the running-first window and feeds the small channel
    rollup; frame state is O(1) per row (first-value short-circuits)."""
    ev = t(spark, sf_dir, "events", spread=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.first(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", channel.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("(direct)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


_GAP_ORACLE = """
    WITH seq AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        FROM events
    ),
    gaps AS (SELECT event_type, gap_us // 1000000 AS gap_s
             FROM seq WHERE gap_us IS NOT NULL)
    SELECT event_type,
           CASE WHEN gap_s < 60 THEN 'lt_1m'
                WHEN gap_s < 600 THEN 'lt_10m'
                WHEN gap_s < 3600 THEN 'lt_1h'
                ELSE 'ge_1h' END AS band,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_s) AS BIGINT) AS total_gap_s
    FROM gaps GROUP BY 1, 2
"""


@query("window_gap_distribution", oracle=_GAP_ORACLE, tags=("window", "events"))
def window_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: inter-event GAP distribution — the diagnostic that
    CALIBRATES sessionization (window_sessionize_gap hardcodes a
    30-minute threshold; this shows what the data's gap landscape
    actually looks like, banded per the event type arriving AFTER the
    gap). Consecutive-event gaps per user over the (ts, event_id)
    total order, exact epoch-microsecond differences floored to
    seconds (timezone-immune by differencing), bucketed into the
    minute/10-minute/hour bands with exact totals.

    Scale shape: ONE user-keyed exchange serves the lag window; the
    band rollup is a map-side-combinable aggregate over (type, band) —
    ~20 output rows at any corpus size."""
    e = t(spark, sf_dir, "events", spread=True)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    gap_s = F.expr("gap_us div 1000000")
    band = (
        F.when(gap_s < 60, "lt_1m")
        .when(gap_s < 600, "lt_10m")
        .when(gap_s < 3600, "lt_1h")
        .otherwise("ge_1h")
    )
    return seq.groupBy("event_type", band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(gap_s).cast("long").alias("total_gap_s"),
    )


_BOUNCE_ORACLE = f"""
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    numbered AS (
        SELECT user_id, event_type, event_id, ts,
               sum(CASE WHEN prev_us IS NULL
                             OR us - prev_us > {_SESSIONIZE_GAP_US}
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM ordered
    ),
    ranked AS (
        SELECT user_id, session_no, event_type,
               row_number() OVER (PARTITION BY user_id, session_no
                                  ORDER BY ts, event_id) AS rn_sess
        FROM numbered
    ),
    sess AS (
        SELECT user_id, session_no,
               CAST(count(*) AS BIGINT) AS n_events,
               min(CASE WHEN rn_sess = 1 THEN event_type END) AS entry_type
        FROM ranked GROUP BY user_id, session_no
    )
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounce,
           CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS bounce_micro
    FROM sess GROUP BY entry_type
"""


@query("window_session_bounce", oracle=_BOUNCE_ORACLE, tags=("window", "sessionize"))
def window_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: BOUNCE RATE by session entry type — the engagement KPI
    built on W9's gaps-and-islands sessionization: a session whose
    only event is its entry is a bounce, and grouping by the ENTRY
    event type answers "which door do one-and-done visits come
    through" (the landing-page report). Entry attribution uses an
    in-session row_number so ties can't split credit; the rate is
    exact micro-unit integer division.

    Plan: the lag window, the island cumsum, the in-session rank,
    and the per-session aggregate ALL share the one user-keyed
    exchange (same partitioning, stacked sorts); the final entry-type
    rollup exchanges |sessions| rows. Same microsecond gap arithmetic
    and 30-min threshold as window_sessionize_gap — the two queries
    are the same session table consumed at two grains."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_micros = F.lag(micros).over(w)
    is_new = F.when(
        prev_micros.isNull() | ((micros - prev_micros) > _SESSIONIZE_GAP_US), 1
    ).otherwise(0)
    numbered = ev.withColumn(
        "session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ranked = numbered.withColumn(
        "rn_sess",
        F.row_number().over(
            Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
        ),
    )
    sess = ranked.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.when(F.col("rn_sess") == 1, F.col("event_type"))).alias("entry_type"),
    )
    return sess.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounce"),
        F.expr(
            "CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)"
            " DIV count(*) AS BIGINT)"
        ).alias("bounce_micro"),
    )


_MARKOV_ITERS = 6
_MARKOV_MICRO = 1_000_000


def _oracle_markov() -> str:
    ctes = [
        """
        seq AS MATERIALIZED (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY CAST(ts AS TIMESTAMP),
                                                  event_id) AS prev_type
            FROM events
        )""",
        """
        trans AS MATERIALIZED (
            SELECT prev_type AS i, event_type AS j,
                   CAST(count(*) AS BIGINT) AS c
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        )""",
        """
        rowsum AS MATERIALIZED (
            SELECT i, CAST(sum(c) AS BIGINT) AS rs FROM trans GROUP BY i
        )""",
        """
        types AS MATERIALIZED (
            SELECT DISTINCT t FROM (
                SELECT i AS t FROM trans UNION SELECT j AS t FROM trans
            )
        )""",
        f"""
        pi0 AS MATERIALIZED (
            SELECT t, CAST({_MARKOV_MICRO} AS HUGEINT) AS pi FROM types
        )""",
    ]
    for k in range(1, _MARKOV_ITERS + 1):
        ctes.append(f"""
        raw{k} AS MATERIALIZED (
            SELECT tr.j AS t,
                   sum((p.pi * tr.c) // r.rs) AS raw
            FROM pi{k - 1} p
            JOIN trans tr ON tr.i = p.t
            JOIN rowsum r ON r.i = p.t
            GROUP BY tr.j
        )""")
        ctes.append(f"""
        pi{k} AS MATERIALIZED (
            SELECT types.t,
                   CASE WHEN r.raw IS NULL
                             OR (SELECT sum(raw) FROM raw{k}) = 0 THEN 0
                        ELSE r.raw * {_MARKOV_MICRO}
                             // (SELECT sum(raw) FROM raw{k}) END AS pi
            FROM types LEFT JOIN raw{k} r ON r.t = types.t
        )""")
    return (
        "WITH " + ",".join(ctes) + f"""
        SELECT p.t AS event_type,
               CAST(p.pi AS BIGINT) AS stationary_micro,
               CAST(coalesce(r.rs, 0) AS BIGINT) AS n_out
        FROM pi{_MARKOV_ITERS} p LEFT JOIN rowsum r ON r.i = p.t
    """
    )


@query("events_markov_stationary", oracle=_oracle_markov(), tags=("window", "analytics"))
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 depth: STATIONARY DISTRIBUTION of the user-journey Markov
    chain — the long-run fraction of time a user's session spends in
    each event state, computed by power iteration over the SAME
    transition matrix window_event_transitions reports (one lag over
    the tie-broken per-user order). The matrix says where users go
    NEXT; the stationary vector says where the product's attention
    equilibrium actually sits — the one-number-per-state summary a
    funnel redesign is measured against.

    Exact-integer contract (the graph_hits_scores discipline): the
    distribution lives in micro units of L1 mass; each round's
    push-forward floors per-edge (pi·c div rowsum — the quantized
    transition), then renormalizes to 1e6 by truncating division, so
    NO float enters any round and the unrolled MATERIALIZED-CTE
    oracle matches bit-for-bit. States with no outgoing transitions
    shed their mass into the renormalization (the sub-stochastic
    convention, identical on both engines by construction). Six
    rounds — on a |types|≈5 chain the iterate is stationary to the
    micro grain well before that.

    Plan: ONE corpus-sized window shuffle on user_id builds the
    matrix (shared with the transitions op's shape); everything after
    is |types|²-sized — per round one broadcast join + aggregate and
    one 1-row total broadcast, lineage cut per round."""
    ev = t(spark, sf_dir, "events", spread=True)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = scoped_persist(
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rowsum = trans.groupBy("i").agg(F.sum("c").cast("long").alias("rs"))
    types = scoped_persist(
        trans.select(F.col("i").alias("t"))
        .union(trans.select(F.col("j").alias("t")))
        .distinct()
    )
    pi = types.select(
        "t", F.lit(_MARKOV_MICRO).cast("decimal(38,0)").alias("pi")
    ).localCheckpoint()
    tr = trans.join(rowsum, "i")
    for _ in range(_MARKOV_ITERS):
        raw = (
            F.broadcast(pi.withColumnRenamed("t", "i"))
            .join(tr, "i")
            .groupBy(F.col("j").alias("t"))
            .agg(
                F.sum(
                    F.expr(
                        "CAST((pi * c - (pi * c) % rs) / rs AS DECIMAL(38,0))"
                    )
                ).alias("raw")
            )
        )
        tot = raw.agg(F.sum("raw").alias("tot"))
        pi = (
            types.join(F.broadcast(raw), "t", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "t",
                F.expr(
                    f"CAST(CASE WHEN raw IS NULL OR tot = 0 THEN 0"
                    f" ELSE (raw * {_MARKOV_MICRO}"
                    f"       - (raw * {_MARKOV_MICRO}) % tot) / tot"
                    f" END AS DECIMAL(38,0))"
                ).alias("pi"),
            )
            .localCheckpoint()
        )
    return (
        pi.join(F.broadcast(rowsum.withColumnRenamed("i", "t")), "t", "left")
        .select(
            F.col("t").alias("event_type"),
            F.col("pi").cast("long").alias("stationary_micro"),
            F.coalesce(F.col("rs"), F.lit(0)).cast("long").alias("n_out"),
        )
    )


_STREAK_ORACLE = """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
        SELECT user_id, day,
               CAST(day - CAST(row_number() OVER (PARTITION BY user_id
                                                  ORDER BY day)
                               AS INTEGER) AS DATE) AS anchor
        FROM days
    ),
    runs AS (
        SELECT user_id, anchor,
               CAST(count(*) AS BIGINT) AS len,
               min(day) AS start_day
        FROM isl GROUP BY user_id, anchor
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY len DESC, start_day DESC) AS rn
        FROM runs
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           max(CASE WHEN rn = 1 THEN start_day END) AS best_start,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM ranked GROUP BY user_id
"""


@query("window_streak_days", oracle=_STREAK_ORACLE, tags=("window", "events"))
def window_streak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-depth: LONGEST ACTIVE-DAY STREAK per user — the consecutive-
    day engagement metric (gaps-and-islands' canonical exercise, and
    the retention team's favorite number) that the sessionize operator
    cannot answer: islands here are runs of CALENDAR days, not
    event-gap sessions. The classic anchor trick: day − row_number()
    is CONSTANT within a consecutive run and unique across runs, so
    one (user)-keyed window + one aggregate finds every streak with
    no self-join. Deterministic tie-break: among equal-length streaks
    the LATEST start wins, pinned by the rank-gated-max device (the
    cusum pattern) so neither engine's max_by tie semantics is in
    play.

    Plan: collapse to the DISTINCT (user, day) grain first (the only
    corpus-sized exchange — multiple events per day collapse before
    any window), one user-keyed window over the calendar-bounded day
    grain sharing that exchange's partitioning, two grain-sized
    aggregates. At 100 TB the day grain is |users|×|days| at worst —
    the collapse IS the scale story."""
    days = (
        t(spark, sf_dir, "events", spread=True)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("start_day"),
    )
    ranked = runs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("len").desc(), F.col("start_day").desc()
            )
        ),
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
        F.max(F.when(F.col("rn") == 1, F.col("start_day"))).alias("best_start"),
        F.sum("len").cast("long").alias("active_days"),
    )


_CONVLAT_ORACLE = """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN CAST(ts AS TIMESTAMP) END) AS s_ts,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END) AS p_ts
        FROM events GROUP BY user_id
    ),
    signed AS (
        SELECT CAST(s_ts AS DATE) AS cohort_day,
               user_id,
               CASE WHEN p_ts IS NOT NULL AND p_ts >= s_ts
                    THEN 1 ELSE 0 END AS converted,
               CASE WHEN p_ts IS NOT NULL AND p_ts >= s_ts
                    THEN CAST(date_diff('microseconds', s_ts, p_ts) AS BIGINT)
               END AS latency_us
        FROM per_user WHERE s_ts IS NOT NULL
    ),
    counts AS (
        SELECT cohort_day,
               CAST(count(*) AS BIGINT) AS n_signups,
               CAST(sum(converted) AS BIGINT) AS n_converted
        FROM signed GROUP BY cohort_day
    ),
    ranked AS (
        SELECT cohort_day, latency_us,
               row_number() OVER (PARTITION BY cohort_day
                                  ORDER BY latency_us, user_id) AS rn,
               count(*) OVER (PARTITION BY cohort_day) AS n
        FROM signed WHERE converted = 1
    ),
    med AS (
        SELECT cohort_day,
               CAST(sum(CASE WHEN rn = (n + 1) // 2
                             OR rn = (n + 2) // 2 THEN latency_us END)
                    * CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END
                    AS BIGINT) AS median_latency_us_x2
        FROM ranked GROUP BY cohort_day
    )
    SELECT c.cohort_day, c.n_signups, c.n_converted,
           CAST(CAST(c.n_converted AS HUGEINT) * 1000000 // c.n_signups
                AS BIGINT) AS conv_rate_micro,
           COALESCE(m.median_latency_us_x2, 0) AS median_latency_us_x2
    FROM counts c LEFT JOIN med m ON m.cohort_day = c.cohort_day
"""


@query(
    "window_conversion_latency",
    oracle=_CONVLAT_ORACLE,
    tags=("window", "events", "funnel"),
)
def window_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-depth: SIGNUP→PURCHASE conversion latency per signup-day
    cohort — the funnel-timing complement to window_time_to_event
    (which measures one user's gaps) and stream_funnel_state (which
    counts stage arrivals): per cohort, how many signups convert and
    how fast the median converter moves. First-touch semantics,
    single-pass-safe: a user converts iff their FIRST purchase is at
    or after their FIRST signup (users whose only purchases predate
    signup are deliberately non-converted — the contract that needs
    no second corpus pass), latency is the exact microsecond gap
    between those two firsts.

    Exactness: latency is integer microseconds; the median uses the
    positional 2x-integer device (runs-test/Tukey precedent — odd
    cohorts double the middle value, even cohorts sum the two, so no
    float average exists); conversion rate is a truncating micro
    division; empty-converter cohorts pin the median to 0 via the
    same COALESCE on both engines.

    Plan: ONE corpus pass to the user grain (two conditional mins
    fused, map-side combinable); everything after runs on user- then
    day-grain relations — the rank window is cohort-PARTITIONED
    (never single-partition), and the counts/median join is
    day-grain-bounded."""
    per_user = (
        t(spark, sf_dir, "events", spread=True)
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "signup",
                    F.col("ts").cast("timestamp"),
                )
            ).alias("s_ts"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("ts").cast("timestamp"),
                )
            ).alias("p_ts"),
        )
        .filter(F.col("s_ts").isNotNull())
    )
    converted_cond = F.col("p_ts").isNotNull() & (F.col("p_ts") >= F.col("s_ts"))
    signed = scoped_persist(
        per_user.select(
            F.col("s_ts").cast("date").alias("cohort_day"),
            "user_id",
            F.when(converted_cond, 1).otherwise(0).alias("converted"),
            F.when(
                converted_cond,
                F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("s_ts")),
            ).alias("latency_us"),
        )
    )
    counts = signed.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_signups"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    w = Window.partitionBy("cohort_day")
    ranked = signed.filter(F.col("converted") == 1).select(
        "cohort_day",
        "latency_us",
        F.row_number().over(w.orderBy("latency_us", "user_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    med = ranked.groupBy("cohort_day").agg(
        F.expr(
            "CAST(sum(CASE WHEN rn = CAST((n + 1) / 2 AS BIGINT)"
            "           OR rn = CAST((n + 2) / 2 AS BIGINT) THEN latency_us END)"
            " * CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END AS BIGINT)"
        ).alias("median_latency_us_x2")
    )
    return counts.join(med, "cohort_day", "left").select(
        "cohort_day",
        "n_signups",
        "n_converted",
        F.expr(
            "CAST((CAST(n_converted AS DECIMAL(38,0)) * 1000000"
            "      - (CAST(n_converted AS DECIMAL(38,0)) * 1000000) % n_signups)"
            "     / n_signups AS BIGINT)"
        ).alias("conv_rate_micro"),
        F.coalesce(F.col("median_latency_us_x2"), F.lit(0))
        .cast("long")
        .alias("median_latency_us_x2"),
    )


# Ordered funnel steps (first-touch, non-decreasing first-timestamps).
_FUNNEL_STEPS = ("view", "click", "purchase")

_FUNNEL_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = '{_FUNNEL_STEPS[0]}'
                        THEN CAST(ts AS TIMESTAMP) END) AS t1,
               min(CASE WHEN event_type = '{_FUNNEL_STEPS[1]}'
                        THEN CAST(ts AS TIMESTAMP) END) AS t2,
               min(CASE WHEN event_type = '{_FUNNEL_STEPS[2]}'
                        THEN CAST(ts AS TIMESTAMP) END) AS t3
        FROM events GROUP BY user_id
    ),
    flags AS (
        SELECT CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS r1,
               CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
                    THEN 1 ELSE 0 END AS r2,
               CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
                     AND t3 IS NOT NULL AND t3 >= t2
                    THEN 1 ELSE 0 END AS r3
        FROM per_user
    ),
    tot AS (
        SELECT CAST(sum(r1) AS BIGINT) AS n1,
               CAST(sum(r2) AS BIGINT) AS n2,
               CAST(sum(r3) AS BIGINT) AS n3
        FROM flags
    ),
    steps AS (
        SELECT 1 AS step, '{_FUNNEL_STEPS[0]}' AS step_name,
               n1 AS n_users, n1 AS prev_n, n1 AS first_n FROM tot
        UNION ALL
        SELECT 2, '{_FUNNEL_STEPS[1]}', n2, n1, n1 FROM tot
        UNION ALL
        SELECT 3, '{_FUNNEL_STEPS[2]}', n3, n2, n1 FROM tot
    )
    SELECT CAST(step AS BIGINT) AS step, step_name,
           n_users,
           CASE WHEN prev_n = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(n_users AS HUGEINT) * 1000000 // prev_n
                          AS BIGINT) END AS conv_from_prev_micro,
           CASE WHEN first_n = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(n_users AS HUGEINT) * 1000000 // first_n
                          AS BIGINT) END AS conv_from_first_micro
    FROM steps
"""


@query(
    "events_funnel_steps",
    oracle=_FUNNEL_ORACLE,
    tags=("window", "events", "funnel"),
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-depth: BATCH FUNNEL over the ordered view→click→purchase
    journey — the step-retention table every product dashboard leads
    with, and the batch twin of stream_funnel_state's streaming stage
    counter. First-touch ordered semantics, single-pass-safe: a user
    reaches step k iff the FIRST timestamps of the first k steps are
    non-decreasing (the window_conversion_latency contract extended
    to a chain), so one corpus pass of fused conditional mins decides
    every stage with no per-step rescan and no event-sequence window.

    Exactness: stage counts are exact BIGINT sums of 0/1 flags whose
    timestamp comparisons are exact (micros); step-over-step and
    end-to-end conversion rates are truncating micro divisions with
    an empty-stage guard — all spelled identically on both engines.

    Plan: ONE corpus pass to the user grain (three conditional mins
    fused, map-side combinable), one 1-row flag rollup, and a 3-row
    literal fan-out projection — nothing downstream of the first
    exchange scales with the corpus."""
    p = (
        t(spark, sf_dir, "events", spread=True)
        .groupBy("user_id")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("event_type") == step,
                        F.col("ts").cast("timestamp"),
                    )
                ).alias(f"t{i + 1}")
                for i, step in enumerate(_FUNNEL_STEPS)
            ]
        )
    )
    r1 = F.col("t1").isNotNull()
    r2 = r1 & F.col("t2").isNotNull() & (F.col("t2") >= F.col("t1"))
    r3 = r2 & F.col("t3").isNotNull() & (F.col("t3") >= F.col("t2"))
    tot = p.agg(
        F.sum(r1.cast("long")).cast("long").alias("n1"),
        F.sum(r2.cast("long")).cast("long").alias("n2"),
        F.sum(r3.cast("long")).cast("long").alias("n3"),
    )
    steps = tot.select(
        F.expr(
            "stack(3,"
            f" CAST(1 AS BIGINT), '{_FUNNEL_STEPS[0]}', n1, n1, n1,"
            f" CAST(2 AS BIGINT), '{_FUNNEL_STEPS[1]}', n2, n1, n1,"
            f" CAST(3 AS BIGINT), '{_FUNNEL_STEPS[2]}', n3, n2, n1)"
            " AS (step, step_name, n_users, prev_n, first_n)"
        )
    )
    return steps.select(
        "step",
        "step_name",
        F.col("n_users").cast("long").alias("n_users"),
        F.expr(
            "CASE WHEN prev_n = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(n_users AS DECIMAL(38,0)) * 1000000"
            "            - (CAST(n_users AS DECIMAL(38,0)) * 1000000) % prev_n)"
            "           / prev_n AS BIGINT) END"
        ).alias("conv_from_prev_micro"),
        F.expr(
            "CASE WHEN first_n = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(n_users AS DECIMAL(38,0)) * 1000000"
            "            - (CAST(n_users AS DECIMAL(38,0)) * 1000000) % first_n)"
            "           / first_n AS BIGINT) END"
        ).alias("conv_from_first_micro"),
    )
