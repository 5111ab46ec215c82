"""Behavioral batch 2: session-level conversion and windowed top-k —
the rollups that sit on top of sessionization and tumbling windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .exact import dcorr, sql_dcorr
from .registry import register

_GAP_US = 6 * 3600 * 1_000_000
_SESSION_ORDER = "PARTITION BY user_id ORDER BY ts, event_id"


@register(
    "behavior_session_conversion",
    tags=("behavioral", "session", "conversion", "funnel"),
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN LAG(ts) OVER ({_SESSION_ORDER}) IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER ({_SESSION_ORDER})) > {_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT *, CAST(SUM(is_new) OVER ({_SESSION_ORDER}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
),
per_session AS (
  SELECT user_id, session_seq,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_seq
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(has_view) AS BIGINT) AS n_view_sessions,
       CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted,
       CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(has_view) AS DOUBLE) AS view_to_purchase_rate,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM per_session
""",
)
def behavior_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion rate: sessions are the 6-h
    gaps-and-islands (same spec as sessionize_events), each session
    reduced to has-view / has-purchase flags, then the
    view→purchase rate — the funnel metric computed at the visit grain
    rather than the user grain (funnel_view_click_purchase).  All three
    layers (lag flag, running session id, per-session rollup) share the
    user partitioning: one shuffle plus the bounded final row."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    is_new = F.when(prev_us.isNull() | ((ts_us - prev_us) > _GAP_US), 1).otherwise(0)
    sess = e.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "has_view"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    converted = F.sum(
        F.when((F.col("has_view") == 1) & (F.col("has_purchase") == 1), 1).otherwise(
            0
        )
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_view").alias("n_view_sessions"),
        converted.alias("n_converted"),
        (converted.cast("double") / F.sum("has_view").cast("double")).alias(
            "view_to_purchase_rate"
        ),
        F.sum("n_events").alias("n_events"),
    )


_US_30M = 30 * 60 * 1_000_000


@register(
    "stream_tumbling_topk",
    tags=("streaming", "window", "topk", "rank"),
    oracle=f"""
WITH counts AS (
  SELECT make_timestamp((epoch_us(ts) // {_US_30M}) * {_US_30M}) AS window_start,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT window_start, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT window_start, event_type, n, rk
FROM ranked WHERE rk <= 3
ORDER BY window_start, rk
""",
)
def stream_tumbling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 30-minute tumbling window — the windowed
    leaderboard every live dashboard shows.  Batch-equivalent streaming
    form: windowed counts (partial+final agg), then a rank window
    PARTITIONED BY WINDOW — each window ranks independently, so the
    sort is per-window-sized, never global.  In a live stream the rank
    runs on the complete-mode sink or per micro-batch via foreachBatch;
    the deterministic tiebreak (count desc, type asc) makes the k-th
    place stable cross-engine."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(F.window("ts", "30 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("window").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "rk",
        )
        .orderBy("window_start", "rk")
    )


_HOURS = list(range(24))


@register(
    "olap_activity_heatmap",
    tags=("behavioral", "olap", "pivot", "heatmap"),
    oracle="""
SELECT dayofweek(ts) AS dow,
       {cols}
FROM events
GROUP BY dow
ORDER BY dow
""".format(
        cols=",\n       ".join(
            f"CAST(SUM(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END) AS BIGINT) AS h{h:02d}"
            for h in _HOURS
        )
    ),
)
def olap_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap — the wide pivot every usage
    dashboard opens with (seasonal indices give the model; this gives
    the picture).  A 7×24 integer matrix from ONE grouped pass with 24
    conditional sums — same plan family as the explicit-values pivot
    (A1-A3) but with fully static columns, so the aggregate needs no
    pivot-value discovery pass.  Spark's 1-based dayofweek shifts to
    DuckDB's 0-based convention."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy((F.dayofweek("ts") - 1).alias("dow"))
        .agg(
            *[
                F.sum(F.when(F.hour("ts") == h, 1).otherwise(0)).alias(f"h{h:02d}")
                for h in _HOURS
            ]
        )
        .orderBy("dow")
    )


_ACF_MAX_LAG = 5


@register(
    "events_autocorrelation",
    tags=("behavioral", "timeseries", "acf", "corr"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY event_type, day
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG}))::INT AS lag),
paired AS (
  SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag
)
SELECT event_type, lag,
       COUNT(*) AS n_pairs,
       {sql_dcorr("x", "y")} AS acf
FROM paired
GROUP BY event_type, lag
ORDER BY event_type, lag
""",
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION function (lags 1-5) of the daily
    event-count series per event type — the stationarity / seasonality
    diagnostic behind every forecasting model choice (the reference's
    time-series toolkit stops at rolling stats; ACF is its natural
    completion).  Scale shape: the raw corpus collapses to the bounded
    (type × day) daily table in ONE grouped pass; lagged pairs come
    from a calendar-arithmetic self-equi-join on (type, day + lag) —
    no unbounded window, no cross product (the 5-row lag spine is a
    broadcast).  Gaps in the calendar simply produce no pair (pairwise-
    complete semantics, like ``F.corr``).  Pearson r from exact decimal
    moments (``plans/exact.dcorr``): integer counts → exact sums; the
    final sqrt/divide is IEEE-correctly-rounded on both engines, so the
    result hash-compares bit-for-bit, same contract as
    ``win_rolling_corr_daily``."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.col("b.day")
                == F.date_add(F.col("a.day"), F.col("lag"))
            ),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.cnt").alias("x"),
            F.col("b.cnt").alias("y"),
        )
    )
    return (
        paired.groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dcorr("x", "y").alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


# ------------------------------------------------ growth accounting


# The daily/weekly/monthly grains of growth accounting, on INTEGER period indexes so every comparison is integer
# arithmetic in both engines (no cross-engine interval/date_trunc
# semantics in the hot path): weeks index from Monday 1970-01-05 —
# ISO-week-aligned like date_trunc('week') — months as a year*12
# month counter; the period-start DATE is rendered only for output.

_GROWTH_ORACLE = """
WITH active AS (
  SELECT DISTINCT user_id, {idx} AS pi
  FROM (SELECT user_id, CAST(ts AS DATE) AS d FROM events)
),
seq AS (
  SELECT user_id, pi,
         LAG(pi) OVER (PARTITION BY user_id ORDER BY pi) AS prev_pi,
         LEAD(pi) OVER (PARTITION BY user_id ORDER BY pi) AS next_pi
  FROM active
),
mx AS (SELECT MAX(pi) AS max_pi FROM active),
classified AS (
  SELECT pi,
         CASE WHEN prev_pi IS NULL THEN 'new'
              WHEN pi - prev_pi = 1 THEN 'retained'
              ELSE 'resurrected' END AS kind
  FROM seq
),
au AS (
  SELECT pi,
         CAST(COUNT(*) AS BIGINT) AS {act},
         CAST(COUNT(*) FILTER (WHERE kind = 'new') AS BIGINT) AS n_new,
         CAST(COUNT(*) FILTER (WHERE kind = 'retained') AS BIGINT)
           AS n_retained,
         CAST(COUNT(*) FILTER (WHERE kind = 'resurrected') AS BIGINT)
           AS n_resurrected
  FROM classified GROUP BY pi
),
churn AS (
  SELECT pi + 1 AS pi, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM seq, mx
  WHERE (next_pi IS NULL OR next_pi > pi + 1) AND pi + 1 <= mx.max_pi
  GROUP BY pi + 1
)
SELECT {start} AS {key},
       au.{act}, au.n_new, au.n_retained, au.n_resurrected,
       COALESCE(ch.n_churned, 0) AS n_churned,
       ROUND(CAST(au.n_new + au.n_resurrected AS DOUBLE)
             / NULLIF(COALESCE(ch.n_churned, 0), 0), 6) AS quick_ratio
FROM au LEFT JOIN churn ch ON ch.pi = au.pi
ORDER BY {key}
"""


def _growth_accounting_core(
    active: DataFrame, act_name: str
) -> DataFrame:
    """new/retained/resurrected/churned/quick-ratio over a distinct
    (user_id, pi) activity frame with an INTEGER period index ``pi`` —
    the grain-free core of the growth-accounting queries: retained ⇔
    active in period pi−1, churn attributed to the period AFTER the
    last active one, censored at the corpus's final period.

    Scale shape: one distinct projection (map-side partial), one
    user-partitioned window pass, two period-grain aggregates joined
    at period grain — no global sort, no single partition."""
    w = Window.partitionBy("user_id").orderBy("pi")
    seq = active.select(
        "user_id",
        "pi",
        F.lag("pi").over(w).alias("prev_pi"),
        F.lead("pi").over(w).alias("next_pi"),
    )
    kind = (
        F.when(F.col("prev_pi").isNull(), "new")
        .when(F.col("pi") - F.col("prev_pi") == 1, "retained")
        .otherwise("resurrected")
    )
    au = (
        seq.select("pi", kind.alias("kind"))
        .groupBy("pi")
        .agg(
            F.count(F.lit(1)).cast("long").alias(act_name),
            F.count(F.when(F.col("kind") == "new", 1))
            .cast("long")
            .alias("n_new"),
            F.count(F.when(F.col("kind") == "retained", 1))
            .cast("long")
            .alias("n_retained"),
            F.count(F.when(F.col("kind") == "resurrected", 1))
            .cast("long")
            .alias("n_resurrected"),
        )
    )
    mx = active.agg(F.max("pi").alias("max_pi"))
    churn = (
        seq.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("next_pi").isNull() | (F.col("next_pi") > F.col("pi") + 1))
            & (F.col("pi") + 1 <= F.col("max_pi"))
        )
        .groupBy((F.col("pi") + 1).alias("pi"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return au.join(churn, "pi", "left").select(
        "pi",
        act_name,
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        F.round(
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / F.nullif(F.coalesce(F.col("n_churned"), F.lit(0)), F.lit(0)),
            6,
        ).alias("quick_ratio"),
    )


_WK_EPOCH = "1970-01-05"  # a Monday: week index is ISO-week-aligned


@register(
    "behavior_growth_accounting",
    tags=("behavioral", "growth", "retention", "dau"),
    oracle=_GROWTH_ORACLE.format(
        idx=f"d - DATE '{_WK_EPOCH}'",
        act="dau",
        key="d",
        start=f"DATE '{_WK_EPOCH}' + CAST(au.pi AS INTEGER)",
    ),
)
def behavior_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY GROWTH ACCOUNTING — the product-analytics identity
    DAU(t) = new(t) + retained(t) + resurrected(t), with churned(t) =
    yesterday's actives who did not return, and the Social-Capital
    QUICK RATIO (new + resurrected) / churned that summarizes whether
    the user base is filling faster than it drains.  The daily
    companion to the static ``events_user_lifecycle`` snapshot and the
    ``retention_cohorts`` triangle.

    Semantics: a user is NEW on their first-ever active day, RETAINED
    when active the previous calendar day too, RESURRECTED when
    returning after a gap; churn is attributed to the day AFTER the
    last active day (censored at the corpus's final day — no user can
    churn past the observation window).

    Exactness: days are integer indexes from Monday 1970-01-05, so
    everything is integer arithmetic and counts; the quick ratio is
    one round-6 division with a NULLIF(0) guard (NULL on churn-free
    days, identically in both engines).

    Scale shape: see ``_growth_accounting_core``."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit(_WK_EPOCH).cast("date")
    active = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), epoch).cast("long").alias("pi"),
    ).distinct()
    return (
        _growth_accounting_core(active, "dau")
        .select(
            F.date_add(epoch, F.col("pi").cast("int")).alias("d"),
            "dau",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_churned",
            "quick_ratio",
        )
        .orderBy("d")
    )


@register(
    "behavior_growth_accounting_wau",
    tags=("behavioral", "growth", "retention", "wau"),
    oracle=_GROWTH_ORACLE.format(
        idx=f"(d - DATE '{_WK_EPOCH}') // 7",
        act="wau",
        key="period_start",
        start=f"DATE '{_WK_EPOCH}' + CAST(au.pi * 7 AS INTEGER)",
    ),
)
def behavior_growth_accounting_wau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEEKLY growth accounting — WAU(t) = new + retained + resurrected
    with the quick ratio, the week grain of
    ``behavior_growth_accounting`` (same churn-censoring semantics:
    retained ⇔ active the immediately previous ISO week, churn lands
    on the week after the last active one, censored at the final
    observed week).  Weeks are integer indexes from Monday 1970-01-05,
    so every retained/churn comparison is pure integer arithmetic in
    both engines; the Monday period_start date is rendered at output.

    Scale shape: see ``_growth_accounting_core`` — distinct projection
    + one user-partitioned window + period-grain aggregates."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit(_WK_EPOCH).cast("date")
    active = ev.select(
        "user_id",
        F.floor(F.datediff(F.col("ts").cast("date"), epoch) / 7)
        .cast("long")
        .alias("pi"),
    ).distinct()
    out = _growth_accounting_core(active, "wau")
    return (
        out.select(
            F.date_add(epoch, (F.col("pi") * 7).cast("int")).alias(
                "period_start"
            ),
            "wau",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_churned",
            "quick_ratio",
        )
        .orderBy("period_start")
    )


@register(
    "behavior_growth_accounting_mau",
    tags=("behavioral", "growth", "retention", "mau"),
    oracle=_GROWTH_ORACLE.format(
        idx="EXTRACT(YEAR FROM d) * 12 + EXTRACT(MONTH FROM d) - 1",
        act="mau",
        key="period_start",
        start="MAKE_DATE(CAST(au.pi // 12 AS INTEGER),"
        " CAST(au.pi % 12 + 1 AS INTEGER), 1)",
    ),
)
def behavior_growth_accounting_mau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MONTHLY growth accounting — MAU(t) with the quick ratio, the
    month grain of ``behavior_growth_accounting`` (same semantics:
    retained ⇔ active the immediately previous calendar month, churn
    on the month after the last active one, censored at the final
    observed month).  Months are the integer counter year·12+month−1,
    so adjacency is pi−prev_pi = 1 across year boundaries for free;
    the first-of-month period_start is rendered at output.

    Scale shape: see ``_growth_accounting_core``."""
    ev = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    active = ev.select(
        "user_id",
        (F.year(d) * 12 + F.month(d) - 1).cast("long").alias("pi"),
    ).distinct()
    out = _growth_accounting_core(active, "mau")
    return (
        out.select(
            F.make_date(
                F.floor(F.col("pi") / 12).cast("int"),
                (F.col("pi") % 12 + 1).cast("int"),
                F.lit(1),
            ).alias("period_start"),
            "mau",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_churned",
            "quick_ratio",
        )
        .orderBy("period_start")
    )


@register(
    "behavior_stickiness_dau_mau",
    tags=("behavioral", "growth", "stickiness", "dau", "mau"),
    oracle="""
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
dau AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM active GROUP BY d
),
mau AS (
  SELECT EXTRACT(YEAR FROM d) * 12 + EXTRACT(MONTH FROM d) - 1 AS mi,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM active GROUP BY 1
)
SELECT dau.d, dau.dau, mau.mau,
       ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
FROM dau
JOIN mau ON mau.mi = EXTRACT(YEAR FROM dau.d) * 12
            + EXTRACT(MONTH FROM dau.d) - 1
ORDER BY dau.d
""",
)
def behavior_stickiness_dau_mau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STICKINESS (DAU/MAU) — the engagement-frequency ratio read next
    to the growth-accounting panels (``behavior_growth_accounting`` and
    its WAU/MAU grains): for every calendar day, the day's distinct
    actives over the distinct actives of its CALENDAR MONTH — 1.0 means
    every monthly user shows up daily, ~1/30 means monthly users touch
    the product once.

    Exactness: two distinct counts and one round-6 division; the month
    key is the same integer year·12+month−1 counter the MAU query
    uses, so the day→month join is integer in both engines.

    Scale shape: one distinct (user, day) projection feeds BOTH
    aggregates (day grain directly; month grain re-aggregating the
    distinct-user-day frame with its own DISTINCT user count); the
    day→month join is calendar-bounded on both sides."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    dau = active.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    mi = (F.year(F.col("d")) * 12 + F.month(F.col("d")) - 1).cast("long")
    mau = (
        active.select("user_id", mi.alias("mi"))
        .distinct()
        .groupBy("mi")
        .agg(F.count(F.lit(1)).cast("long").alias("mau"))
    )
    return (
        dau.withColumn("mi", mi)
        .join(F.broadcast(mau), "mi")
        .select(
            "d",
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        )
        .orderBy("d")
    )


_DOW_NAMES = (  # index 0 = Monday (days since Monday 1970-01-05, mod 7)
    "monday", "tuesday", "wednesday", "thursday", "friday",
    "saturday", "sunday",
)


@register(
    "behavior_weekday_seasonality",
    tags=("behavioral", "seasonality", "timeseries", "dow"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
dow AS (
  SELECT ((d - DATE '1970-01-05') % 7) AS dw, n_events FROM daily
),
tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS g_events,
         CAST(COUNT(*) AS BIGINT) AS g_days
  FROM dow
)
SELECT CASE dw {' '.join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(_DOW_NAMES))} END AS weekday,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
         AS mean_daily_events,
       ROUND((CAST(SUM(n_events) AS DOUBLE) / COUNT(*))
             / (CAST(g_events AS DOUBLE) / g_days), 6) AS seasonal_index
FROM dow CROSS JOIN tot
GROUP BY dw, g_events, g_days
ORDER BY MIN(dw)
""",
)
def behavior_weekday_seasonality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAY-OF-WEEK SEASONALITY profile — the classical multiplicative
    seasonal index (weekday mean daily events / overall mean daily
    events) a capacity planner or anomaly detector normalizes by
    before reading a trend (the seasonal-naive companion to the Holt
    and EWMA smoothers in the window family).  Index > 1 = the weekday
    runs hot.

    Exactness: the weekday is pure integer arithmetic in both engines
    — days since Monday 1970-01-05 mod 7 (0 = Monday), sidestepping
    the engines' incompatible dayofweek conventions (Spark 1=Sunday,
    DuckDB 0=Sunday, ISO 1=Monday); counts are exact BIGINTs; the
    index is a ratio of two integer-derived means, round-6 at output.

    Scale shape: one day-grain aggregate (map-side partial over the
    fact scan), a 7-row weekday rollup, and a one-row grand-total
    scalar broadcast back — nothing beyond day grain ever shuffles."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    dw = F.pmod(
        F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")), F.lit(7)
    ).cast("int")
    dow = daily.select(dw.alias("dw"), "n_events")
    tot = dow.agg(
        F.sum("n_events").cast("long").alias("g_events"),
        F.count(F.lit(1)).cast("long").alias("g_days"),
    )
    name = F.element_at(
        F.array(*[F.lit(n) for n in _DOW_NAMES]), F.col("dw") + 1
    )
    return (
        dow.crossJoin(F.broadcast(tot))
        .groupBy("dw", "g_events", "g_days")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .select(
            name.alias("weekday"),
            "n_days",
            "n_events",
            F.round(
                F.col("n_events").cast("double") / F.col("n_days"), 6
            ).alias("mean_daily_events"),
            F.round(
                (F.col("n_events").cast("double") / F.col("n_days"))
                / (F.col("g_events").cast("double") / F.col("g_days")),
                6,
            ).alias("seasonal_index"),
            F.col("dw").alias("_dw"),
        )
        .orderBy("_dw")
        .drop("_dw")
    )


# daily event counts with their weekday (days since Monday 1970-01-05,
# mod 7) and the per-weekday event and day totals
_SQL_WEEKDAY_MEAN = """daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
dow AS (
  SELECT ((d - DATE '1970-01-05') % 7) AS dw, d, n_events FROM daily
),
wmean AS (
  SELECT dw, CAST(SUM(n_events) AS BIGINT) AS w_events,
         CAST(COUNT(*) AS BIGINT) AS w_days
  FROM dow GROUP BY dw
)"""


def _weekday_means(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(dow, wmean): day-grain ``(dw, d, n_events)`` and the 7-row
    ``(dw, w_events, w_days)`` weekday totals — the seasonal-naive
    expectation of a day is w_events / w_days of its weekday."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    dw = F.pmod(
        F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")), F.lit(7)
    ).cast("int")
    dow = daily.select(dw.alias("dw"), "d", "n_events")
    wmean = dow.groupBy("dw").agg(
        F.sum("n_events").cast("long").alias("w_events"),
        F.count(F.lit(1)).cast("long").alias("w_days"),
    )
    return dow, wmean


@register(
    "behavior_seasonal_naive_error",
    tags=("behavioral", "seasonality", "forecast", "eval", "timeseries"),
    oracle=f"""
WITH {_SQL_WEEKDAY_MEAN},
errs AS (
  SELECT dow.dw,
         CAST(ROUND(ABS(dow.n_events
                        - CAST(w_events AS DOUBLE) / w_days)
                    * 1000000000, 0) AS BIGINT) AS ae_nano,
         CAST(ROUND(ABS(dow.n_events
                        - CAST(w_events AS DOUBLE) / w_days)
                    / dow.n_events * 1000000000, 0) AS BIGINT) AS ape_nano
  FROM dow JOIN wmean ON wmean.dw = dow.dw
)
SELECT CAST(dw AS INTEGER) AS dw,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(ae_nano) AS DOUBLE) / (COUNT(*) * 1000000000.0), 6)
         AS mae,
       ROUND(CAST(SUM(ape_nano) AS DOUBLE) / (COUNT(*) * 1000000000.0), 6)
         AS mape
FROM errs
GROUP BY dw
ORDER BY dw
""",
)
def behavior_seasonal_naive_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL-NAIVE forecast-error panel — how well does the weekday
    mean (the ``behavior_weekday_seasonality`` profile) PREDICT each
    day's traffic?  Per weekday: MAE and MAPE of the
    forecast-every-day-by-its-weekday-mean rule — the baseline every
    real forecast must beat (the seasonal analog of the naive
    denominator inside the MASE backtest), and the panel that says
    WHICH weekdays are predictable.

    Exactness: the weekday mean is one integer÷integer double division
    (bit-identical across engines); each day's absolute error and
    percentage error are nano-quantized BEFORE the per-weekday sums,
    so the means are exact integer sums with one final double division
    (the house float-summation-order rule).

    Scale shape: one day-grain aggregate map-side, a 7-row weekday
    mean table joined back at day grain (broadcast), day-grain error
    rows rolled up to 7 — nothing above day grain shuffles."""
    dow, wmean = _weekday_means(spark, sf_dir)
    mean = F.col("w_events").cast("double") / F.col("w_days")
    ae = F.abs(F.col("n_events") - mean)
    errs = dow.join(F.broadcast(wmean), "dw").select(
        "dw",
        F.round(ae * 1_000_000_000, 0).cast("long").alias("ae_nano"),
        F.round(ae / F.col("n_events") * 1_000_000_000, 0)
        .cast("long")
        .alias("ape_nano"),
    )
    return (
        errs.groupBy("dw")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum("ae_nano").cast("double")
                / (F.count(F.lit(1)) * 1_000_000_000.0),
                6,
            ).alias("mae"),
            F.round(
                F.sum("ape_nano").cast("double")
                / (F.count(F.lit(1)) * 1_000_000_000.0),
                6,
            ).alias("mape"),
        )
        .orderBy("dw")
    )


@register(
    "behavior_seasonal_adjusted_anomalies",
    tags=("behavioral", "seasonality", "anomaly", "timeseries"),
    oracle=f"""
WITH {_SQL_WEEKDAY_MEAN},
resid AS (
  SELECT dow.d, dow.n_events,
         CAST(ROUND((dow.n_events
                     - CAST(w_events AS DOUBLE) / w_days)
                    * 1000000000, 0) AS BIGINT) AS r_nano
  FROM dow JOIN wmean ON wmean.dw = dow.dw
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r_nano) AS BIGINT) AS s1,
         SUM(CAST(r_nano AS HUGEINT) * r_nano) AS s2
  FROM resid
)
SELECT d, n_events,
       ROUND(r_nano / 1000000000.0, 6) AS residual,
       ROUND((r_nano / 1000000000.0 - s1 / (n * 1000000000.0))
             / SQRT(CAST(s2 AS DOUBLE) / n / 1e18
                    - (CAST(s1 AS DOUBLE) / n / 1e9) ^ 2), 6) AS z
FROM resid CROSS JOIN mom
WHERE ABS((r_nano / 1000000000.0 - s1 / (n * 1000000000.0))
          / SQRT(CAST(s2 AS DOUBLE) / n / 1e18
                 - (CAST(s1 AS DOUBLE) / n / 1e9) ^ 2)) > 1.5e0
ORDER BY d
""",
)
def behavior_seasonal_adjusted_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONALLY-ADJUSTED traffic anomalies — the composition the
    weekday profile exists for: subtract each day's weekday-mean
    expectation, z-score the RESIDUALS (population moments), and flag
    |z| > 1.5 — so a hot Saturday isn't an anomaly just for being
    Saturday, and a quiet Monday can be.  The day-grain twin of the
    per-ticker ``win_zscore_anomalies`` rule with the seasonal
    expectation removed first.

    Exactness: residuals are nano-quantized ONCE (one double
    subtraction of an integer÷integer mean — bit-identical in both
    engines); all moments are integer sums of those nanos (the square
    sum in HUGEINT/DECIMAL to survive nano² magnitudes); the z is
    re-derived from integers with one sqrt — same doubles, same sqrt,
    both engines.

    Scale shape: day-grain aggregate + 7-row broadcast + one-row
    moment scalar broadcast back over day-grain rows (written bound in
    tests/test_plan_shapes._BOUNDED_SINGLE_PARTITION)."""
    dow, wmean = _weekday_means(spark, sf_dir)
    mean = F.col("w_events").cast("double") / F.col("w_days")
    resid = dow.join(F.broadcast(wmean), "dw").select(
        "d",
        "n_events",
        F.round((F.col("n_events") - mean) * 1_000_000_000, 0)
        .cast("long")
        .alias("r_nano"),
    )
    mom = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r_nano").cast("long").alias("s1"),
        F.sum(F.col("r_nano").cast("decimal(38,0)") * F.col("r_nano"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    mu = F.col("s1") / (F.col("n") * 1_000_000_000.0)
    var = (
        F.col("s2").cast("double") / F.col("n") / 1e18
        - (F.col("s1").cast("double") / F.col("n") / 1e9)
        * (F.col("s1").cast("double") / F.col("n") / 1e9)
    )
    z = (F.col("r_nano") / 1_000_000_000.0 - mu) / F.sqrt(var)
    return (
        resid.crossJoin(F.broadcast(mom))
        .filter(F.abs(z) > 1.5)
        .select(
            "d",
            "n_events",
            F.round(F.col("r_nano") / 1_000_000_000.0, 6).alias(
                "residual"
            ),
            F.round(z, 6).alias("z"),
        )
        .orderBy("d")
    )
