"""Advanced join family Spark lacks as single operators: as-of join,
range/band join, multiset set-ops.  Each is composed from shuffle-lean
DataFrame primitives (SURVEY.md custom-operator rule (a): composition of
existing ops) and oracle-checked against DuckDB's native forms (ASOF
JOIN, inequality join, INTERSECT/EXCEPT ALL).

The as-of join is the canonical stock-warehouse operator the reference's
domain implies but pandas gives away for free (``pd.merge_asof``): align
each observation with the latest prior reading from another series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .exact import davg, dsum, sql_davg, sql_dsum
from ..operators.localrel import literal_df
from .registry import register


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str = "ts",
    build_ts: str = "ts",
    value_col: str = "asof_value",
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of join: for every probe row, attach the ``value_col`` of the
    nearest build row with equal ``on`` key — the latest with
    ``build_ts <= probe_ts`` (``direction='backward'``, the
    ``pd.merge_asof`` default / DuckDB ``ON probe.ts >= build.ts``) or
    the earliest with ``build_ts >= probe_ts`` (``'forward'`` /
    ``ON probe.ts <= build.ts``).  Ties at equal timestamps include the
    build row in both directions.

    Scale shape: ONE shuffle on the key column — both sides are unioned
    with a side tag and swept by a single ``last``/``first``
    (ignorenulls) window.  No range-bucketing, no per-key loop, no
    broadcast; state per row is O(1), so the plan survives a 100 TB
    probe side unchanged.  (The alternative — point-in-interval range
    join — shuffles twice and explodes build rows per time bucket.)

    ``build`` must be unique per (key, ts); pre-aggregate upstream if
    not, or the picked row is nondeterministic.

    ``tolerance_us`` (``pd.merge_asof(tolerance=...)`` analog) nulls
    the match when the attached build row is further than that many
    microseconds from the probe timestamp — the sweep carries the build
    ts alongside the value (same one-shuffle plan) and applies the
    bound after the fill.
    """
    if direction == "nearest":
        return _asof_nearest(
            probe, build, on, probe_ts, build_ts, value_col, tolerance_us
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    # tag ordering puts the build row INSIDE the frame at equal ts:
    # backward frame (-inf, current] wants build first (tag 0 < probe 1);
    # forward frame [current, +inf) wants probe first (tag 0 < build 1)
    probe_tag, build_tag = (1, 0) if direction == "backward" else (0, 1)
    p = probe.withColumn("__tag", F.lit(probe_tag)).withColumn(
        value_col, F.lit(None)
    )
    b = (
        build.select(
            F.col(on),
            F.col(build_ts).alias(probe_ts),
            F.col(value_col),
        )
        .withColumn("__tag", F.lit(build_tag))
    )
    if direction == "backward":
        w = (
            Window.partitionBy(on)
            .orderBy(probe_ts, "__tag")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy(on)
            .orderBy(probe_ts, "__tag")
            .rowsBetween(0, Window.unboundedFollowing)
        )
    pick = F.last if direction == "backward" else F.first
    u = p.select(*probe.columns, "__tag", value_col).unionByName(
        b, allowMissingColumns=True
    )
    if tolerance_us is None:
        return (
            u.withColumn(value_col, pick(value_col, ignorenulls=True).over(w))
            .filter(F.col("__tag") == F.lit(probe_tag))
            .drop("__tag")
        )
    # sweep (build_ts, value) together so the tolerance test applies to
    # the SAME row the fill picked (two independent ignorenulls sweeps
    # could disagree if a build value were null)
    sw = F.when(
        F.col("__tag") == F.lit(1 - probe_tag),
        F.struct(F.col(probe_ts).alias("bts"), F.col(value_col).alias("v")),
    )
    filled = pick(sw, ignorenulls=True).over(w)

    # microsecond distance regardless of the ts column's type: timestamps
    # go through unix_micros; numeric columns ARE microseconds already
    # (casting a long to timestamp would misread it as SECONDS — caught
    # by the pd.merge_asof differential test)
    if u.schema[probe_ts].dataType.simpleString().startswith("timestamp"):
        def to_us(c):  # noqa: ANN001, ANN202
            return F.unix_micros(c.cast("timestamp"))
    else:
        def to_us(c):  # noqa: ANN001, ANN202
            return c.cast("long")

    gap_us = (
        to_us(F.col(probe_ts)) - to_us(F.col("__f.bts"))
        if direction == "backward"
        else to_us(F.col("__f.bts")) - to_us(F.col(probe_ts))
    )
    return (
        u.withColumn("__f", filled)
        .withColumn(
            value_col,
            F.when(F.col("__f").isNotNull() & (gap_us <= tolerance_us), F.col("__f.v")),
        )
        .filter(F.col("__tag") == F.lit(probe_tag))
        .drop("__tag", "__f")
    )


def _asof_nearest(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    value_col: str,
    tolerance_us: int | None,
) -> DataFrame:
    """``direction='nearest'``: the backward and forward sweeps run as
    two frames over the SAME partitioning and sort (one shuffle, one
    WindowExec), then each probe row keeps whichever attached build row
    is closer in time — ties (equal distance) prefer the earlier build
    row, and a build row at the exact probe timestamp matches with
    distance 0.  ``tolerance_us`` bounds the chosen row's distance."""
    # build tag 0: at equal ts the build row sorts before the probe row,
    # so the backward frame sees it at distance 0
    p = probe.withColumn("__tag", F.lit(1))
    b = build.select(
        F.col(on), F.col(build_ts).alias(probe_ts), F.col(value_col)
    ).withColumn("__tag", F.lit(0))
    u = p.select(*probe.columns, "__tag").withColumn(
        value_col, F.lit(None).cast(b.schema[value_col].dataType)
    ).unionByName(b, allowMissingColumns=True)

    sw = F.when(
        F.col("__tag") == 0,
        F.struct(F.col(probe_ts).alias("bts"), F.col(value_col).alias("v")),
    )
    w_back = (
        Window.partitionBy(on)
        .orderBy(probe_ts, "__tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(on)
        .orderBy(probe_ts, "__tag")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    if u.schema[probe_ts].dataType.simpleString().startswith("timestamp"):
        def to_us(c):  # noqa: ANN001, ANN202
            return F.unix_micros(c.cast("timestamp"))
    else:
        def to_us(c):  # noqa: ANN001, ANN202
            return c.cast("long")

    bk = F.last(sw, ignorenulls=True).over(w_back)
    fw = F.first(sw, ignorenulls=True).over(w_fwd)
    out = u.withColumn("__b", bk).withColumn("__f", fw)
    gap_b = to_us(F.col(probe_ts)) - to_us(F.col("__b.bts"))
    gap_f = to_us(F.col("__f.bts")) - to_us(F.col(probe_ts))
    # tie (gap_b == gap_f) -> backward, i.e. the earlier build row
    pick_b = F.col("__f").isNull() | (
        F.col("__b").isNotNull() & (gap_b <= gap_f)
    )
    chosen = F.when(pick_b, F.col("__b")).otherwise(F.col("__f"))
    gap = F.when(pick_b, gap_b).otherwise(gap_f)
    val = F.col("__chosen.v")
    if tolerance_us is not None:
        val = F.when(F.col("__gap") <= tolerance_us, val)
    return (
        out.withColumn("__chosen", chosen)
        .withColumn("__gap", gap)
        .withColumn(value_col, F.when(F.col("__chosen").isNotNull(), val))
        .filter(F.col("__tag") == 1)
        .drop("__tag", "__b", "__f", "__chosen", "__gap")
    )


_ASOF_OP = {"backward": ">=", "forward": "<="}


def _sql_asof_purchase(col: str, direction: str) -> str:
    """DuckDB ``ASOF LEFT JOIN`` mirror of :func:`_asof_purchase`."""
    return f"""
WITH build AS (
  SELECT user_id, ts, MAX(value) AS {col}
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
probe AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT probe.user_id % 16 AS user_bucket,
       COUNT(*) AS n_clicks,
       COUNT({col}) AS n_matched,
       ROUND({sql_davg(col)}, 6) AS avg_{col}
FROM probe ASOF LEFT JOIN build
  ON probe.user_id = build.user_id AND probe.ts {_ASOF_OP[direction]} build.ts
GROUP BY 1
ORDER BY 1
"""


def _asof_purchase(
    spark: SparkSession, sf_dir: str, col: str, direction: str
) -> DataFrame:
    """Per user bucket (user_id % 16): clicks, clicks matched to a
    purchase of the same user, and the exact mean matched value
    ``avg_{col}`` — each click takes the value of the user's latest
    purchase at or before it (``backward``) or earliest at or after it
    (``forward``), through :func:`asof_join`'s single-shuffle union +
    window sweep."""
    e = load_table(spark, sf_dir, "events")
    probe = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    build = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias(col))
    )
    joined = asof_join(
        probe, build, on="user_id", value_col=col, direction=direction
    )
    return (
        joined.groupBy((F.col("user_id") % 16).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count(col).alias("n_matched"),
            F.round(davg(col), 6).alias(f"avg_{col}"),
        )
        .orderBy("user_bucket")
    )


@register(
    "join_asof_purchase_value",
    tags=("join", "asof", "window"),
    oracle=_sql_asof_purchase("last_purchase", "backward"),
)
def join_asof_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (``pd.merge_asof`` / DuckDB ``ASOF JOIN`` analog): each
    click event picks up the same user's latest prior purchase value,
    via the union + last(ignorenulls) window sweep in :func:`asof_join`
    — one shuffle, no range explosion.  Aggregated per user bucket so
    the compared result stays small."""
    return _asof_purchase(spark, sf_dir, "last_purchase", "backward")


@register(
    "join_asof_next_purchase",
    tags=("join", "asof", "forward", "window"),
    oracle=_sql_asof_purchase("next_purchase", "forward"),
)
def join_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click picks up the same user's NEXT
    purchase value (the attribution / time-to-conversion direction,
    ``pd.merge_asof(direction='forward')``).  Same single-shuffle
    union + first(ignorenulls) sweep as the backward variant —
    direction only flips the tag order and the window frame."""
    return _asof_purchase(spark, sf_dir, "next_purchase", "forward")


_BANDS = [
    (0.0, 50_000.0, "low"),
    (50_000.0, 150_000.0, "mid"),
    (150_000.0, 300_000.0, "high"),
    (300_000.0, 1e18, "whale"),
]


@register(
    "join_range_price_bands",
    tags=("join", "range", "broadcast"),
    oracle=f"""
SELECT band,
       COUNT(*) AS n_orders,
       ROUND({sql_davg('o_totalprice')}, 2) AS avg_price,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders
JOIN (VALUES {', '.join(f"({lo!r}, {hi!r}, '{b}')" for lo, hi, b in _BANDS)})
  AS bands(lo, hi, band)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
""",
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact rows matched to [lo, hi) intervals via a
    non-equi broadcast join — the physical plan is
    BroadcastNestedLoopJoin with the interval predicate, which is the
    right shape when the interval side is tiny and static.  If the band
    table grew unbounded you'd bucketize (equi-join on
    ``width_bucket``-style keys) instead; for a fixed ladder the
    broadcast costs O(|fact| × |bands|) comparisons with zero shuffle of
    the fact."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bands = literal_df(spark, _BANDS, "lo double, hi double, band string")
    cond = (F.col("o_totalprice") >= F.col("lo")) & (
        F.col("o_totalprice") < F.col("hi")
    )
    return (
        o.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(davg("o_totalprice"), 2).alias("avg_price"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("band")
    )


@register(
    "set_multiset_custkeys",
    tags=("setop", "intersect-all", "except-all"),
    oracle="""
SELECT 'common' AS op, COUNT(*) AS n_rows, COUNT(DISTINCT custkey) AS n_keys
FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
)
UNION ALL
SELECT 'urgent_surplus' AS op, COUNT(*) AS n_rows, COUNT(DISTINCT custkey) AS n_keys
FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
)
ORDER BY op
""",
)
def set_multiset_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-ops (``intersectAll`` / ``exceptAll`` — the ALL
    flavors SURVEY.md §2.8 notes as free Spark capability): per-key
    multiplicities min(a,b) and max(a-b, 0).  Spark plans both as a
    single shuffle on the row value with a count comparison — no O(n²)
    pairing."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )

    def summarize(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.lit(op).alias("op"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("custkey").alias("n_keys"),
        )

    return (
        summarize(urgent.intersectAll(high), "common")
        .unionByName(summarize(urgent.exceptAll(high), "urgent_surplus"))
        .orderBy("op")
    )


@register(
    "skew_salted_aggregate",
    tags=("skew", "salting", "agg"),
    oracle="""
SELECT event_type,
       SUM(CAST(FLOOR(value * 100.0) AS BIGINT))::BIGINT AS sum_cents,
       COUNT(*)::BIGINT AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (``operators/skew.py``) under the
    driver's oracle: event_type has only 5 values, so every group is a
    hot key — the exact shape where one reducer would absorb the whole
    table and AQE's partition splitting cannot help (it splits
    partitions, not groups).  Values are quantized to integer cents
    (``floor(v·100)``) so the two-phase re-aggregation is EXACT and
    order-independent — the oracle is a plain one-phase GROUP BY, which
    is the whole point: salting must change the plan, never the
    answer."""
    from ..operators.skew import salted_aggregate

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
        "value",
    )
    out = salted_aggregate(
        e,
        ["event_type"],
        {
            "sum_cents": ("cents", "sum"),
            "n": ("cents", "count"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("sum_cents").cast("long"),
        F.col("n").cast("long"),
        "min_value",
        "max_value",
    ).orderBy("event_type")


_TOL_US = 6 * 3600 * 1_000_000  # 6-hour as-of tolerance

_TOL_MASK = (
    "CASE WHEN bts IS NOT NULL AND epoch_us(pts) - epoch_us(bts) <= "
    f"{_TOL_US} THEN last_purchase END"
)


@register(
    "join_asof_tolerance_value",
    tags=("join", "asof", "tolerance", "window"),
    oracle=f"""
WITH build AS (
  SELECT user_id, ts, MAX(value) AS last_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
probe AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
j AS (
  SELECT probe.user_id, probe.ts AS pts, build.ts AS bts, build.last_purchase
  FROM probe ASOF LEFT JOIN build
    ON probe.user_id = build.user_id AND probe.ts >= build.ts
)
SELECT user_id % 16 AS user_bucket,
       COUNT(*) AS n_clicks,
       COUNT({_TOL_MASK})::BIGINT AS n_within_tol,
       ROUND({sql_davg(_TOL_MASK)}, 6) AS avg_recent_purchase
FROM j
GROUP BY 1
ORDER BY 1
""",
)
def join_asof_tolerance_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with tolerance (``pd.merge_asof(tolerance=6h)``):
    each click takes the same user's latest prior purchase ONLY if it
    happened within the last 6 hours — stale matches are nulled.  Same
    one-shuffle union+window sweep as the plain as-of; the sweep
    carries (build_ts, value) as a struct so the bound tests the exact
    matched row."""
    e = load_table(spark, sf_dir, "events")
    probe = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    build = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase"))
    )
    joined = asof_join(
        probe,
        build,
        on="user_id",
        value_col="last_purchase",
        tolerance_us=_TOL_US,
    )
    return (
        joined.groupBy((F.col("user_id") % 16).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count("last_purchase").alias("n_within_tol"),
            F.round(davg("last_purchase"), 6).alias("avg_recent_purchase"),
        )
        .orderBy("user_bucket")
    )


@register(
    "join_fuzzy_name_pairs",
    tags=("join", "fuzzy", "levenshtein", "blocking"),
    oracle="""
WITH names AS (
  SELECT DISTINCT p_name AS name FROM part
),
blocked AS (
  SELECT name, string_split(name, ' ')[-1] AS block FROM names
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name)::INT AS edit_dist
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
ORDER BY name_a, name_b
""",
)
def join_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join with blocking — the
    entity-resolution primitive: candidate pairs come ONLY from a
    cheap equi-join on a blocking key (here the head noun of the name),
    and the O(len²) levenshtein verify runs per candidate, never
    all-pairs.  Swap the blocking key for phonetic codes / sorted
    q-gram buckets and the same plan does record linkage at 100 TB;
    without blocking this is a cartesian the plan guard would reject."""
    names = (
        load_table(spark, sf_dir, "part").select(F.col("p_name").alias("name")).distinct()
    )
    blocked = names.withColumn(
        "block", F.element_at(F.split(F.col("name"), " "), -1)
    )
    a = blocked.select(F.col("name").alias("name_a"), F.col("block").alias("block_a"))
    b = blocked.select(F.col("name").alias("name_b"), F.col("block").alias("block_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(
            b,
            (F.col("block_a") == F.col("block_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("edit_dist", dist.cast("int"))
        .filter(F.col("edit_dist").between(1, 3))
        .select("name_a", "name_b", "edit_dist")
        .orderBy("name_a", "name_b")
    )


_ATTR_TOL_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window

_ATTR_MASK = (
    "CASE WHEN cts IS NOT NULL AND epoch_us(pts) - epoch_us(cts) <= "
    f"{_ATTR_TOL_US} THEN 1 END"
)


@register(
    "attribution_last_touch",
    tags=("join", "asof", "behavioral", "attribution"),
    oracle=f"""
WITH clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, ts, event_id, value
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.user_id, p.ts AS pts, p.value, c.ts AS cts
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT user_id % 8 AS user_bucket,
       COUNT(*) AS n_purchases,
       COUNT({_ATTR_MASK})::BIGINT AS n_attributed,
       {sql_dsum(f"CASE WHEN ({_ATTR_MASK}) = 1 THEN value ELSE 0.0 END")}
         AS attributed_revenue,
       {sql_dsum(f"CASE WHEN ({_ATTR_MASK}) IS NULL THEN value ELSE 0.0 END")}
         AS organic_revenue
FROM j
GROUP BY 1
ORDER BY 1
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution — THE business application of
    the as-of join run in the conversion direction: each purchase takes
    the same user's latest PRIOR click, credited only within a 7-day
    window; revenue splits into attributed vs organic.  One union+sweep
    shuffle on user_id, then a conditional-sum rollup — no per-user
    loops, no range explosion, same plan at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        value_col="click_id",
        tolerance_us=_ATTR_TOL_US,
    )
    attributed = F.col("click_id").isNotNull()
    return (
        joined.groupBy((F.col("user_id") % 8).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("click_id").alias("n_attributed"),
            dsum(F.when(attributed, F.col("value")).otherwise(0.0)).alias(
                "attributed_revenue"
            ),
            dsum(F.when(~attributed, F.col("value")).otherwise(0.0)).alias(
                "organic_revenue"
            ),
        )
        .orderBy("user_bucket")
    )


@register(
    "er_part_entities",
    tags=("join", "fuzzy", "entity-resolution", "graph", "survivorship"),
    oracle=f"""
WITH RECURSIVE names AS (
  SELECT DISTINCT p_name AS name FROM part
),
blocked AS (
  SELECT name, string_split(name, ' ')[-1] AS block FROM names
),
pairs AS (
  SELECT a.name AS na, b.name AS nb
  FROM blocked a JOIN blocked b
    ON a.block = b.block AND a.name < b.name
  WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
),
sym AS (
  SELECT na AS a, nb AS b FROM pairs
  UNION
  SELECT nb, na FROM pairs
),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, r.comp FROM sym s JOIN reach r ON r.node = s.b
),
assign AS (
  SELECT node AS name, MIN(comp) AS entity_id FROM reach GROUP BY node
),
members AS (
  SELECT COALESCE(a.entity_id, n.name) AS entity_id, n.name
  FROM names n LEFT JOIN assign a ON a.name = n.name
),
ent AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_names
  FROM members GROUP BY entity_id
  HAVING COUNT(*) >= 2
),
stats AS (
  SELECT m.entity_id,
         CAST(COUNT(*) AS BIGINT) AS n_part_rows,
         {sql_dsum('p.p_retailprice')} AS total_retail,
         CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands
  FROM part p
  JOIN members m ON m.name = p.p_name
  JOIN ent ON ent.entity_id = m.entity_id
  GROUP BY m.entity_id
)
SELECT e.entity_id, e.n_names, s.n_part_rows, s.total_retail, s.n_brands
FROM ent e JOIN stats s ON s.entity_id = e.entity_id
ORDER BY e.n_names DESC, e.entity_id
""",
)
def er_part_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENTITY-RESOLUTION pipeline — the composition past
    ``join_fuzzy_name_pairs``'s candidate stage: blocking equi-join →
    edit-distance verify (1–3) → connected components over the match
    graph (``operators/graph.py`` min-label propagation, type-agnostic
    so the node ids are the NAME STRINGS — min = lexicographic
    canonical) → SURVIVORSHIP: one golden entity per cluster
    (entity_id = lexicographically-least member name) with member
    count and the merged part-level stats (row count, exact-decimal
    retail total, distinct brands).  Clusters of one are left out —
    the report is the merge-review queue a warehouse steward works.
    Oracle: the identical pair generation closed by a recursive CTE
    (the ``dedup_clusters_cc`` pattern) — bit-exact including the
    decimal totals.  Scale: pairs come only from blocks, CC shuffles
    ∝ edges, stats are one hash join on the name key."""
    from ..operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    blocked = names.withColumn(
        "block", F.element_at(F.split(F.col("name"), " "), -1)
    )
    a = blocked.select(
        F.col("name").alias("na"), F.col("block").alias("block_a")
    )
    b = blocked.select(
        F.col("name").alias("nb"), F.col("block").alias("block_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("block_a") == F.col("block_b"))
            & (F.col("na") < F.col("nb")),
        )
        .filter(F.levenshtein(F.col("na"), F.col("nb")).between(1, 3))
        .select("na", "nb")
    )
    comp = connected_components(pairs, src="na", dst="nb").select(
        F.col("node").alias("name"), F.col("comp").alias("entity_id")
    )
    members = names.join(comp, "name", "left").select(
        F.coalesce("entity_id", F.col("name")).alias("entity_id"), "name"
    )
    ent = (
        members.groupBy("entity_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_names"))
        .filter(F.col("n_names") >= 2)
    )
    stats = (
        part.join(
            members.withColumnRenamed("name", "p_name"), "p_name"
        )
        .join(F.broadcast(ent.select("entity_id")), "entity_id")
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_part_rows"),
            dsum("p_retailprice").alias("total_retail"),
            F.count_distinct("p_brand").cast("long").alias("n_brands"),
        )
    )
    return (
        ent.join(stats, "entity_id")
        .select("entity_id", "n_names", "n_part_rows", "total_retail", "n_brands")
        .orderBy(F.desc("n_names"), "entity_id")
    )
