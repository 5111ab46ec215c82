"""Batch-equivalent event-time window queries with DuckDB oracles.

Tumbling/sliding mirror via epoch-microsecond bucket arithmetic
(integer, exact); sessions via gaps-and-islands.  The same Spark
expressions run under readStream — see streaming/event_windows.py and
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..streaming.event_windows import session_agg, sliding_agg, tumbling_agg
from .exact import sql_dsum
from .registry import register

_US_5M = 5 * 60 * 1_000_000
_US_10M = 10 * 60 * 1_000_000


@register(
    "stream_tumbling_counts",
    tags=("streaming", "window", "agg"),
    oracle=f"""
SELECT
  make_timestamp((epoch_us(ts) // {_US_5M}) * {_US_5M}) AS window_start,
  event_type,
  COUNT(*) AS n,
  {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling event-time windows per event_type."""
    return tumbling_agg(load_table(spark, sf_dir, "events"), minutes=5)


@register(
    "stream_sliding_counts",
    tags=("streaming", "window", "agg"),
    oracle=f"""
WITH assigned AS (
  SELECT
    make_timestamp(((epoch_us(ts) // {_US_5M}) - k) * {_US_5M}) AS window_start,
    value
  FROM events, (SELECT unnest([0, 1]) AS k)
  WHERE epoch_us(ts) >= ((epoch_us(ts) // {_US_5M}) - k) * {_US_5M}
    AND epoch_us(ts) <  ((epoch_us(ts) // {_US_5M}) - k) * {_US_5M} + {_US_10M}
)
SELECT window_start, COUNT(*) AS n, {sql_dsum('value')} AS total_value
FROM assigned
GROUP BY 1
ORDER BY 1
""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — overlapping assignment (each
    event lands in 2 windows)."""
    return sliding_agg(
        load_table(spark, sf_dir, "events"), width_minutes=10, slide_minutes=5
    )


@register(
    "stream_session_agg",
    tags=("streaming", "session", "window"),
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_US_10M}
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, ts, value,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM islands
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (10 min) per user via session_window —
    oracle mirrors with gaps-and-islands (identical session boundaries:
    Spark merges events with gap ≤ 10 min; the island break condition
    is gap > 10 min)."""
    return session_agg(load_table(spark, sf_dir, "events"), gap_minutes=10)


@register(
    "stream_interval_join",
    tags=("streaming", "join", "interval"),
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
ORDER BY click_id, purchase_id
""",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-bound) join: clicks matched to the same user's
    purchases within the following 30 minutes.  The IDENTICAL join
    condition runs as a watermarked stream-stream join under readStream
    (streaming/event_windows.run_stream_stream_join; stream == batch
    asserted in tests) — the condition's equi-key + two-sided time
    bound is what lets Structured Streaming size and evict join state
    on unbounded input."""
    from ..streaming.event_windows import click_purchase_interval_join

    return click_purchase_interval_join(
        load_table(spark, sf_dir, "events"), within_minutes=30
    ).orderBy("click_id", "purchase_id")


# the click side ``c`` and purchase side ``p`` of the interval joins
_SQL_CLICKS_PURCHASES = """c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)"""


@register(
    "stream_left_outer_join",
    tags=("streaming", "join", "outer", "watermark"),
    oracle=f"""
WITH {_SQL_CLICKS_PURCHASES}, m AS (
  SELECT MAX(ts) - INTERVAL 2 HOUR - INTERVAL 30 MINUTE AS evict_before
  FROM events
)
SELECT c.user_id, c.click_id, c.click_ts,
       p.purchase_id, p.purchase_ts, p.purchase_value
FROM c
LEFT JOIN p ON c.user_id = p.p_user
           AND p.purchase_ts >= c.click_ts
           AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
CROSS JOIN m
WHERE p.purchase_id IS NOT NULL OR c.click_ts < m.evict_before
ORDER BY click_id, purchase_id
""",
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, FINAL-output semantics:
    matches emit immediately; a null-padded row for an unmatched click
    emits only once the watermark (max event time − 2 h) passes the
    click's join window (click_ts + 30 min) and its state is evicted —
    unmatched clicks younger than that stay in state and never emit in
    a bounded run.  The batch plan mirrors exactly that (left join +
    eviction cutoff filter); the real readStream run is asserted equal
    in tests/test_streaming_multimodal.py::test_stream_stream_left_outer_equals_batch.
    """
    from ..streaming.event_windows import left_outer_final_output

    return left_outer_final_output(
        load_table(spark, sf_dir, "events"), within_minutes=30, watermark_hours=2
    ).orderBy("click_id", "purchase_id")


@register(
    "stream_full_outer_join",
    tags=("streaming", "join", "outer", "watermark"),
    oracle=f"""
WITH {_SQL_CLICKS_PURCHASES}, m AS (
  SELECT MAX(ts) - INTERVAL 2 HOUR - INTERVAL 30 MINUTE AS click_evict,
         MAX(ts) - INTERVAL 2 HOUR AS purchase_evict
  FROM events
)
SELECT COALESCE(c.user_id, p.p_user) AS user_id,
       c.click_id, c.click_ts,
       p.purchase_id, p.purchase_ts, p.purchase_value
FROM c
FULL JOIN p ON c.user_id = p.p_user
           AND p.purchase_ts >= c.click_ts
           AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
CROSS JOIN m
WHERE (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL)
   OR (p.purchase_id IS NULL AND c.click_ts < m.click_evict)
   OR (c.click_id IS NULL AND p.purchase_ts < m.purchase_evict)
ORDER BY click_id NULLS LAST, purchase_id NULLS LAST
""",
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join, final-output semantics.
    The asymmetric eviction is the instructive part: a click's state
    closes when the watermark passes ``click_ts + 30min`` (end of its
    match window), but a purchase's closes at ``purchase_ts`` itself —
    its candidate clicks all have ``click_ts ≤ purchase_ts``, so the
    watermark passing its own timestamp already proves no match can
    arrive.  Mirrored in batch (full join + per-side eviction cutoffs)
    and asserted equal to the real readStream run in tests."""
    from ..streaming.event_windows import full_outer_final_output

    return full_outer_final_output(
        load_table(spark, sf_dir, "events"), within_minutes=30, watermark_hours=2
    ).orderBy(
        F.col("click_id").asc_nulls_last(), F.col("purchase_id").asc_nulls_last()
    )


_US_6H = 6 * 3600 * 1_000_000


@register(
    "stream_static_enrich",
    tags=("streaming", "join", "static", "enrichment"),
    oracle=f"""
SELECT
  make_timestamp((epoch_us(e.ts) // {_US_6H}) * {_US_6H}) AS window_start,
  c.c_mktsegment AS segment,
  COUNT(*) AS n,
  {sql_dsum('e.value')} AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming fact joined to a
    broadcast dimension (customer segment) before a windowed rollup —
    the canonical enrich-then-aggregate streaming topology (the static
    side needs NO watermark or state: Spark re-broadcasts it per
    micro-batch).  This registered plan is the exact batch twin of the
    readStream pipeline asserted equal in
    tests/test_streaming_multimodal.py::test_stream_static_enrich_equals_batch;
    the dimension join is unhinted (the planner broadcasts it while it
    fits under the threshold; customer grows with SF, so no force) and
    the only shuffle is the windowed aggregation."""
    from ..streaming.event_windows import static_enriched_agg

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return static_enriched_agg(e, c)
