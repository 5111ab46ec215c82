"""Behavioral / product-analytics queries over ``events``: batch
sessionization (gaps-and-islands), funnel conversion, cohort retention.

These are the warehouse staples every event pipeline ships alongside
the OLAP rollups — all three are single-scan plans whose shuffles key
on ``user_id`` (or its aggregates), so they scale like any grouped
aggregation: shuffle volume ∝ users/sessions, not events.

Reference parity: the reference's per-ticker time-series treatment
(groupby-apply over ordered rows, `datamining.py`) is the same
partition-ordered pattern; sessionization is its event-domain analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .registry import register

# 6-hour inactivity gap: events average ~11 h apart per user in the
# testdata, so this yields a real mix of single- and multi-event
# sessions (any gap value is semantically valid; this one exercises
# both branches).
_GAP_US = 6 * 3600 * 1_000_000

_SESSION_ORDER = "PARTITION BY user_id ORDER BY ts, event_id"


@register(
    "sessionize_events",
    tags=("behavioral", "window", "gaps-and-islands"),
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER ({_SESSION_ORDER}) IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER ({_SESSION_ORDER})) > {_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT *, SUM(is_new) OVER ({_SESSION_ORDER}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS start_ts,
       MAX(ts) AS end_ts,
       ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0, 6) AS duration_secs,
       {sql_dsum('value')} AS total_value
FROM sess
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands: flag a session start
    where the per-user gap exceeds 6 h (lag window), running-sum the
    flags into session ids, aggregate per session.  Both windows and
    the final aggregate share the ``user_id`` hash partitioning — one
    shuffle total.  The streaming analog is
    ``streaming/event_windows.py``'s native session window."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    is_new = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > _GAP_US), 1
    ).otherwise(0)
    sess = e.withColumn(
        "session_seq",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    dur_us = F.unix_micros(F.max("ts").cast("timestamp")) - F.unix_micros(
        F.min("ts").cast("timestamp")
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.round(dur_us / 1_000_000.0, 6).alias("duration_secs"),
            dsum("value").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@register(
    "funnel_view_click_purchase",
    tags=("behavioral", "funnel", "conditional-agg"),
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_view,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
       COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
         AS n_full_funnel
FROM firsts
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel: per user, first occurrence of each stage
    (conditional MIN — one grouped agg over one scan), then ordered-
    stage counts.  No joins, no self-unions: the classic N-stage funnel
    is N conditional aggregates wide, which is why it still runs in one
    pass at 100 TB."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    firsts = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_view_then_click"),
        F.count(F.when(purchased, 1)).alias("n_full_funnel"),
    )


@register(
    "retention_cohorts",
    tags=("behavioral", "cohort", "retention"),
    oracle="""
WITH first_day AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT cohort_day,
       date_diff('day', cohort_day, day)::BIGINT AS day_offset,
       COUNT(*) AS n_users
FROM activity JOIN first_day USING (user_id)
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen day,
    counted on each subsequent active day.  The user⋈cohort join keys
    on user_id — same partitioning as both aggregates feeding it, so
    AQE plans it shuffle-reuse; cohort table is users-sized (broadcast
    at real scale)."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    first_day = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("day")).distinct()
    return (
        activity.join(first_day, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "latest_event_per_user",
    tags=("behavioral", "window", "latest-record"),
    oracle="""
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key — the upsert/SCD compaction pattern (a
    mutable-table snapshot from an append-only log).  One partitioned
    rank window, deterministic (ts, event_id) tiebreak; at scale this
    is the dedupe that materializes 'current state' from a CDC feed."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


@register(
    "events_daily_gapfill",
    tags=("behavioral", "resample", "gap-fill"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, {sql_dsum('value')} AS total_value
  FROM events GROUP BY event_type, day
),
bounds AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY event_type
),
spine AS (
  SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
)
SELECT s.event_type, s.day,
       COALESCE(d.total_value,
                LAST_VALUE(d.total_value IGNORE NULLS) OVER (
                  PARTITION BY s.event_type ORDER BY s.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS total_value,
       (d.total_value IS NULL) AS filled
FROM spine s LEFT JOIN daily d USING (event_type, day)
ORDER BY s.event_type, s.day
""",
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap-filling with forward fill — the resample/
    interpolate half of the reference's time-series toolkit (its stock
    calendar has market holidays; here missing (type, day) cells).
    The spine is generated per type via ``sequence()`` (pure expression,
    no driver loop), missing days left-join as NULL, and
    ``last(ignorenulls)`` over the day order carries the previous
    value forward.  Window partitions by event_type — days per type is
    bounded by the time span, the scale-safe partitioning."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(dsum("value").alias("total_value"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    return (
        joined.select(
            "event_type",
            "day",
            F.coalesce(
                "total_value", F.last("total_value", ignorenulls=True).over(w)
            ).alias("total_value"),
            F.col("total_value").isNull().alias("filled"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "stream_watermark_accounting",
    tags=("streaming", "watermark", "late-data"),
    oracle="""
WITH arr AS (
  SELECT event_type, ts, value,
         MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen
  FROM events
)
SELECT event_type,
       COUNT(CASE WHEN max_seen IS NULL
                    OR ts >= max_seen - INTERVAL 10 MINUTE THEN 1 END) AS n_on_time,
       COUNT(CASE WHEN ts < max_seen - INTERVAL 10 MINUTE THEN 1 END) AS n_late
FROM arr
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_watermark_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting, replayed in batch: events arrive
    in event_id order per source (event_type); the watermark at each
    arrival is (max event time seen so far − 10 min), and an event
    older than that would be DROPPED by a streaming aggregation with
    ``withWatermark('ts', '10 minutes')``.  This query quantifies that
    policy per source before you deploy it — the audit every watermark
    choice should get.  Same running-max window the streaming engine
    maintains as state; partitioned per source, no global order."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    max_seen = F.max("ts").over(w)
    late = F.col("ts") < max_seen - F.expr("INTERVAL 10 MINUTES")
    on_time = max_seen.isNull() | ~late
    return (
        e.select("event_type", late.alias("late"), on_time.alias("on_time"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("on_time"), 1)).alias("n_on_time"),
            F.count(F.when(F.col("late"), 1)).alias("n_late"),
        )
        .orderBy("event_type")
    )


@register(
    "join_interval_overlap_bucketed",
    tags=("join", "interval", "behavioral", "bucketed"),
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER ({_SESSION_ORDER}) IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER ({_SESSION_ORDER})) > {_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT *, SUM(is_new) OVER ({_SESSION_ORDER}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
  FROM flagged
),
sessions AS (
  SELECT user_id, session_seq, MIN(ts) AS start_ts, MAX(ts) AS end_ts
  FROM sess GROUP BY user_id, session_seq
),
hours AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*)::BIGINT AS n
  FROM events GROUP BY 1
),
busy AS (
  SELECT h FROM hours
  WHERE n > (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) FROM hours)
)
SELECT s.user_id, s.session_seq, b.h AS busy_hour,
       (epoch_us(LEAST(s.end_ts, b.h + INTERVAL 1 HOUR))
        - epoch_us(GREATEST(s.start_ts, b.h))) / 1000000.0 AS overlap_secs
FROM sessions s
JOIN busy b ON s.start_ts < b.h + INTERVAL 1 HOUR AND s.end_ts >= b.h
ORDER BY user_id, session_seq, busy_hour
""",
)
def join_interval_overlap_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join, bucketed: user sessions (gaps-and-islands
    intervals) × busier-than-average hours, reporting per-pair overlap
    seconds.

    The naive plan for interval × interval overlap is a
    BroadcastNestedLoopJoin — O(|A|·|B|) compute even when the result
    is sparse.  The scale shape used here maps both sides onto a
    shared time-bucket key (sessions explode into the hours they
    cover; busy "hours" are their own bucket) and hash-joins on the
    bucket, evaluating the exact overlap only on bucket-collided
    pairs: O(|A|·avg_span + |B|) with no nested loop
    (test_plan_shapes.py forbids cartesians in all registered plans).
    The busy-hour side is derived with an exact int-sum / count
    threshold (no float aggregation)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    is_new = F.when(prev_us.isNull() | ((ts_us - prev_us) > _GAP_US), 1).otherwise(0)
    sessions = (
        e.withColumn(
            "session_seq",
            F.sum(is_new)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    hours = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    thresh = hours.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("avg_n")
    )
    busy = (
        hours.crossJoin(F.broadcast(thresh))
        .filter(F.col("n") > F.col("avg_n"))
        .select(F.col("h").alias("busy_hour"))
    )
    covered = sessions.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "start_ts"),
                F.date_trunc("hour", "end_ts"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    overlap_secs = (
        F.unix_micros(F.least(F.col("end_ts"), F.col("busy_hour") + F.expr("INTERVAL 1 HOUR")))
        - F.unix_micros(F.greatest(F.col("start_ts"), F.col("busy_hour")))
    ) / 1_000_000.0
    return (
        covered.join(busy, F.col("bucket") == F.col("busy_hour"))
        .select(
            "user_id",
            "session_seq",
            "busy_hour",
            overlap_secs.alias("overlap_secs"),
        )
        .orderBy("user_id", "session_seq", "busy_hour")
    )


# purchase x same-user click pairs, the click at or before the purchase;
# each attribution rule bounds ``age_us`` (purchase minus click, in µs)
_SQL_CLICK_PAIRS = """p AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pu, value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS cid, user_id, epoch_us(ts) AS cu
  FROM events WHERE event_type = 'click'
),
pairs AS (
  SELECT pid, cid, value, cu, pu - cu AS age_us
  FROM p JOIN c USING (user_id)
  WHERE cu <= pu
)"""


def _sql_ranked_touches(within: str) -> str:
    """CTE ``ranked(pid, cid, value, rn, k)``: the pairs whose age
    satisfies ``age_us {within}``, numbered per purchase in click order
    (rn, ties by click id) with the purchase's touch count k."""
    return f"""ranked AS (
  SELECT pid, cid, value,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY cu, cid) AS rn,
         COUNT(*) OVER (PARTITION BY pid) AS k
  FROM pairs WHERE age_us {within}
)"""


def click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pid, cid, value, cu, age_us): the Spark mirror of
    ``_SQL_CLICK_PAIRS`` — a user-keyed equi-join (never a cartesian;
    per-user activity bounds the fan-out), times in integer µs.  The
    caller's ``age_us`` bound is pushed into the join condition."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", us.alias("pu"), "value"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", us.alias("cu")
    )
    return (
        p.join(c, "user_id")
        .filter(F.col("cu") <= F.col("pu"))
        .select(
            "pid",
            "cid",
            "value",
            "cu",
            (F.col("pu") - F.col("cu")).alias("age_us"),
        )
    )


def ranked_touches(pairs: DataFrame) -> DataFrame:
    """(pid, cid, value, rn, k): the Spark mirror of
    :func:`_sql_ranked_touches` over already-bounded pairs — two
    windows partitioned by purchase, no global sort."""
    return pairs.select(
        "pid",
        "cid",
        "value",
        F.row_number()
        .over(Window.partitionBy("pid").orderBy("cu", "cid"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("pid")).alias("k"),
    )


_MT_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window


@register(
    "attribution_multi_touch",
    tags=("join", "behavioral", "attribution", "window"),
    oracle=f"""
WITH {_SQL_CLICK_PAIRS},
{_sql_ranked_touches(f"<= {_MT_WINDOW_US}")},
credited AS (
  SELECT pid, value, cid, k,
         CASE
           WHEN k = 1 THEN 1000
           WHEN k = 2 THEN 500
           WHEN rn = 1 OR rn = k THEN 400
           ELSE 200 // (k - 2)
         END AS credit_milli,
         CASE
           WHEN rn = 1 AND k > 1 THEN 'first'
           WHEN rn = k AND k > 1 THEN 'last'
           WHEN k = 1 THEN 'only'
           ELSE 'middle'
         END AS position_class
  FROM ranked
)
SELECT position_class,
       COUNT(*) AS n_touches,
       SUM(credit_milli)::BIGINT AS total_credit_milli,
       {sql_dsum('value * credit_milli / 1000.0')} AS credited_revenue
FROM credited
GROUP BY position_class
ORDER BY position_class
""",
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    every click in the 7 days before a purchase shares its value —
    40% to the first and last touches, the 20% middle pot split evenly
    (integer milli-credits with floor division, so the split is
    deterministic on both engines; the dropped remainder is the
    documented convention).  Shape: user-keyed equi-join with a time
    residual (never a cartesian), then two windows partitioned by
    purchase — the join output is each user's clicks×purchases within
    the window, bounded by per-user activity."""
    pairs = click_pairs(spark, sf_dir)
    ranked = ranked_touches(pairs.filter(F.col("age_us") <= _MT_WINDOW_US))
    credit = (
        F.when(F.col("k") == 1, 1000)
        .when(F.col("k") == 2, 500)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), 400)
        .otherwise(F.expr("200 DIV (k - 2)"))
    )
    pos = (
        F.when((F.col("rn") == 1) & (F.col("k") > 1), "first")
        .when((F.col("rn") == F.col("k")) & (F.col("k") > 1), "last")
        .when(F.col("k") == 1, "only")
        .otherwise("middle")
    )
    return (
        ranked.select(
            "value",
            credit.alias("credit_milli"),
            pos.alias("position_class"),
        )
        .groupBy("position_class")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_milli").alias("total_credit_milli"),
            dsum(F.col("value") * F.col("credit_milli") / 1000.0).alias(
                "credited_revenue"
            ),
        )
        .orderBy("position_class")
    )


@register(
    "behavior_markov_transitions",
    tags=("behavioral", "window", "sequence"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
),
pairs AS (
  SELECT src, dst, COUNT(*)::BIGINT AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
),
totals AS (
  SELECT src AS t_src, SUM(n)::BIGINT AS row_total FROM pairs GROUP BY src
)
SELECT src, dst, n, n / row_total AS p
FROM pairs JOIN totals ON src = t_src
ORDER BY src, dst
""",
)
def behavior_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the input for next-action models and behavioral drift
    monitors.  One lead window per user, then two aggregations on the
    tiny (src, dst) alphabet; probabilities are int/int double
    divisions (deterministic, no rounding).  The per-user sequencing
    shuffle is the only fact-sized exchange."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy(F.col("src").alias("t_src")).agg(
        F.sum("n").alias("row_total")
    )
    return (
        pairs.join(F.broadcast(totals), F.col("src") == F.col("t_src"))
        .select("src", "dst", "n", (F.col("n") / F.col("row_total")).alias("p"))
        .orderBy("src", "dst")
    )
