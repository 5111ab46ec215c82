"""Misc batch 4: PII redaction, SCD1 merge-upsert, CDC snapshot diff,
and dyadic time-decay attribution.

Exactness choices: PII injection is deterministic (derived from
doc_id/source, like the PPM encode path) so detection/redaction is
oracle-checkable end-to-end; the time-decay weights are DYADIC
(2^-floor(age/7d) ∈ {1, ½, ¼, ⅛}) so every weight, weight sum, and
normalized credit is exact in binary floating point — the no-
transcendentals stance of dq_distribution_drift applied to decay
curves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .behavioral import (
    _SQL_CLICK_PAIRS,
    _sql_ranked_touches,
    click_pairs,
    ranked_touches,
)
from .exact import dsum, sql_dsum
from .registry import register

# ------------------------------------------------------------------ pii

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"


@register(
    "text_pii_redaction",
    tags=("llm", "text", "pii", "redaction"),
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact ' || lower(source) || doc_id || '@example.com'
              || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents
),
red AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
         regexp_replace(
           regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
           '{_PHONE_RE}', '[PHONE]', 'g') AS redacted,
         text
  FROM seeded
)
SELECT doc_id, n_emails, n_phones,
       md5(redacted) AS redacted_md5,
       CAST(length(text) - length(redacted) AS BIGINT) AS chars_removed
FROM red
ORDER BY doc_id
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub every training-data
    pipeline runs before anything else.  The corpus has no natural PII,
    so it is INJECTED deterministically (an email and a 555-phone
    derived from doc_id/source — the same make-the-plumbing-testable
    move as the PPM encode path), then detected by regex count and
    redacted by regexp_replace; the oracle replays injection +
    detection + redaction and hash-compares the redacted text, so a
    regex-dialect divergence between engines (Java regex vs RE2) would
    fail the gate.  Map-only — one projection, no shuffle, the shape
    that scrubs 100 TB in one pass."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.lower("source"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    return (
        seeded.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
            F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).alias("n_phones"),
            F.md5(redacted).alias("redacted_md5"),
            (F.length("text") - F.length(redacted))
            .cast("long")
            .alias("chars_removed"),
        )
        .orderBy("doc_id")
    )


# ----------------------------------------------------------- scd1 merge

_T_CUT = "2024-01-15"


@register(
    "scd1_merge_upsert",
    tags=("warehouse", "scd1", "merge", "upsert"),
    oracle=f"""
WITH tgt AS (
  SELECT user_id, value AS old_value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{_T_CUT}'
  ) WHERE rn = 1
),
src AS (
  SELECT user_id, value AS new_value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts >= TIMESTAMP '{_T_CUT}'
  ) WHERE rn = 1
)
SELECT COALESCE(t.user_id, s.user_id) AS user_id,
       CASE WHEN t.user_id IS NULL THEN 'insert'
            WHEN s.user_id IS NULL THEN 'keep'
            ELSE 'update' END AS action,
       t.old_value, s.new_value,
       COALESCE(s.new_value, t.old_value) AS final_value
FROM tgt t FULL OUTER JOIN src s USING (user_id)
ORDER BY user_id
""",
)
def scd1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-1 MERGE semantics as a relational plan — what
    ``MERGE INTO target USING source`` does on engines with ACID
    tables, expressed engine-neutrally: latest state per key on each
    side of a cutoff, full outer join, and the three-way action
    (insert / update / keep) with the post-merge value.  Complements
    scd2_user_state_history (which KEEPS history; SCD1 overwrites).
    One shuffle per side for the latest-row window + one co-partitioned
    full outer join — the join keys are already hash-partitioned by
    the windows, so Catalyst reuses the exchanges."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def latest(df: DataFrame, col: str, present: str) -> DataFrame:
        # lit(True) presence marker: action classification must branch
        # on ROW PRESENCE (the oracle's t.user_id IS NULL), not value
        # nullness — a present row with a NULL value is an update/keep,
        # not an insert (round-3 advisor item).
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("value").alias(col),
                F.lit(True).alias(present),
            )
        )

    tgt = latest(
        e.filter(F.col("ts") < F.lit(_T_CUT).cast("timestamp_ntz")),
        "old_value",
        "_in_tgt",
    )
    src = latest(
        e.filter(F.col("ts") >= F.lit(_T_CUT).cast("timestamp_ntz")),
        "new_value",
        "_in_src",
    )
    action = (
        F.when(F.col("_in_tgt").isNull(), "insert")
        .when(F.col("_in_src").isNull(), "keep")
        .otherwise("update")
    )
    return (
        tgt.join(src, "user_id", "full_outer")
        .select(
            "user_id",
            action.alias("action"),
            "old_value",
            "new_value",
            F.coalesce("new_value", "old_value").alias("final_value"),
        )
        .orderBy("user_id")
    )


# -------------------------------------------------------- snapshot diff

_T1, _T2 = "2024-01-15", "2024-01-25"


@register(
    "dq_snapshot_diff",
    tags=("warehouse", "dq", "cdc", "diff"),
    oracle=f"""
WITH snap AS (
  SELECT user_id,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '{_T1}') AS n_a,
         {sql_dsum("CASE WHEN ts < TIMESTAMP '" + _T1 + "' THEN value END")} AS v_a,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '{_T2}') AS n_b,
         {sql_dsum("CASE WHEN ts < TIMESTAMP '" + _T2 + "' THEN value END")} AS v_b
  FROM events WHERE ts < TIMESTAMP '{_T2}'
  GROUP BY user_id
),
tagged AS (
  SELECT user_id,
         CASE WHEN n_a = 0 THEN 'added'
              WHEN n_a <> n_b OR v_a <> v_b THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         n_b - n_a AS delta_rows
  FROM snap
)
SELECT change_type,
       COUNT(*) AS n_users,
       CAST(SUM(delta_rows) AS BIGINT) AS delta_rows
FROM tagged
GROUP BY change_type
ORDER BY change_type
""",
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: per-user aggregate state at two
    snapshot times (T1, T2) compared row-for-row — which keys were
    added, which changed, which are byte-identical — the audit that
    validates an incremental pipeline against a full recompute.  Both
    snapshots come from ONE scan (conditional aggregation on the same
    grouping — no self-join of two snapshot materializations), so the
    diff costs one shuffle regardless of snapshot count."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(_T2).cast("timestamp_ntz")
    )
    in_a = F.col("ts") < F.lit(_T1).cast("timestamp_ntz")
    snap = e.groupBy("user_id").agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        dsum(F.when(in_a, F.col("value"))).alias("v_a"),
        F.count(F.lit(1)).alias("n_b"),
        dsum("value").alias("v_b"),
    )
    change = (
        F.when(F.col("n_a") == 0, "added")
        .when(
            (F.col("n_a") != F.col("n_b"))
            | (F.col("v_a") != F.col("v_b")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        snap.select(
            change.alias("change_type"),
            (F.col("n_b") - F.col("n_a")).alias("delta_rows"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("delta_rows").cast("long").alias("delta_rows"),
        )
        .orderBy("change_type")
    )


# ------------------------------------------------- time-decay attribution

_LOOKBACK_DAYS = 28
_US_PER_DAY = 86_400_000_000


@register(
    "attribution_time_decay",
    tags=("behavioral", "attribution", "decay", "join"),
    oracle=f"""
WITH {_SQL_CLICK_PAIRS},
weeks AS (
  SELECT pid, cid, value, (age_us // {_US_PER_DAY}) // 7 AS weeks_back
  FROM pairs WHERE age_us < {_LOOKBACK_DAYS} * {_US_PER_DAY}
),
weighted AS (
  SELECT pid, cid, value, weeks_back,
         CASE weeks_back WHEN 0 THEN 1.0e0 WHEN 1 THEN 0.5e0
                         WHEN 2 THEN 0.25e0 ELSE 0.125e0 END AS w
  FROM weeks
),
norm AS (
  SELECT pid, cid, weeks_back,
         value * w / SUM(w) OVER (PARTITION BY pid) AS credited
  FROM weighted
)
SELECT weeks_back,
       COUNT(*) AS n_credits,
       COUNT(DISTINCT pid) AS n_purchases,
       CAST(CAST(SUM(CAST(credited AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS total_credited
FROM norm
GROUP BY weeks_back
ORDER BY weeks_back
""",
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution with EXACT dyadic weights: every click in
    the 28 days before a purchase earns weight 2^-floor(age/7d) ∈
    {1, ½, ¼, ⅛} of the purchase value (normalized per purchase).
    Because the weights are powers of two and per-purchase click counts
    are small, every weight sum and normalized credit is exact in
    binary floating point — the decay curve costs no transcendental and
    the oracle compares bit-for-bit (the same reason the drift canary
    uses TVD, not KL).  Join is user-keyed (one shuffle; per-user
    activity bounds the pair fan-out), ages in integer microseconds."""
    age = F.col("age_us")
    pairs = (
        click_pairs(spark, sf_dir)
        .filter(age < _LOOKBACK_DAYS * _US_PER_DAY)
        .withColumn(
            "weeks_back",
            F.floor(F.floor(age / _US_PER_DAY) / 7).cast("long"),
        )
    )
    w = (
        F.when(F.col("weeks_back") == 0, F.lit(1.0))
        .when(F.col("weeks_back") == 1, F.lit(0.5))
        .when(F.col("weeks_back") == 2, F.lit(0.25))
        .otherwise(F.lit(0.125))
    )
    win = Window.partitionBy("pid")
    credited = F.col("value") * w / F.sum(w).over(win)
    # per-row values are exact (dyadic weights), but their SUM must go
    # through decimals — and NOT through a per-row round(…, 6), whose
    # double-rounding algorithm differs between engines on ties at
    # 120k-pair volume.  Scale 10: boundary spacing 5e-11 ≫ ulp of the
    # ~1e4-magnitude credits, so double→decimal is deterministic; the
    # wide sum string-routes to double (PERF.md exactness cookbook).
    return (
        pairs.select("pid", "weeks_back", credited.alias("credited"))
        .groupBy("weeks_back")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.count_distinct("pid").alias("n_purchases"),
            F.sum(F.col("credited").cast("decimal(28,10)"))
            .cast("string")
            .cast("double")
            .alias("total_credited"),
        )
        .orderBy("weeks_back")
    )


@register(
    "attribution_position_based",
    tags=("behavioral", "attribution", "position", "join"),
    oracle=f"""
WITH {_SQL_CLICK_PAIRS},
{_sql_ranked_touches(f"< {_LOOKBACK_DAYS} * {_US_PER_DAY}")},
weighted AS (
  SELECT pid, cid, value,
         CASE WHEN rn = 1 THEN 'first'
              WHEN rn = k THEN 'last'
              ELSE 'middle' END AS position,
         CASE WHEN k = 1 THEN 1.0e0
              WHEN k = 2 THEN 0.5e0
              WHEN rn = 1 OR rn = k THEN 0.4e0
              ELSE 0.2e0 / (k - 2) END AS w
  FROM ranked
)
SELECT position,
       COUNT(*) AS n_credits,
       COUNT(DISTINCT pid) AS n_purchases,
       CAST(CAST(SUM(CAST(value * w AS DECIMAL(28,10))) AS VARCHAR)
            AS DOUBLE) AS total_credited
FROM weighted
GROUP BY position
ORDER BY position
""",
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped, 40/20/40) attribution — the fourth
    standard rule next to last-touch, linear multi-touch, and
    time-decay: within the {days}-day lookback the FIRST click gets
    40% of the purchase value, the LAST 40%, and the middle touches
    split the remaining 20% evenly (single-touch journeys take 100%,
    two-touch 50/50).  The rule every marketing platform labels
    "position based", completing the attribution-model comparison set
    the Shapley query arbitrates.

    Exactness: weights are already normalized per purchase
    (0.4 + 0.4 + 0.2 = 1), so there is no per-purchase weight-sum
    division; the per-pair w is one fixed-order double expression on
    identical literals in both engines, and the credited sums take
    the time-decay query's DECIMAL(28,10)-with-string-route (see
    attribution_time_decay's boundary-spacing note).

    Scale shape: one user-keyed join (per-user activity bounds the
    fan-out), per-purchase windows partitioned by pid — no global
    sort, no single partition."""
    ranked = ranked_touches(
        click_pairs(spark, sf_dir).filter(
            F.col("age_us") < _LOOKBACK_DAYS * _US_PER_DAY
        )
    )
    position = (
        F.when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("k"), "last")
        .otherwise("middle")
    )
    w = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        ranked.select(
            "pid",
            position.alias("position"),
            (F.col("value") * w).alias("credited"),
        )
        .groupBy("position")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.count_distinct("pid").alias("n_purchases"),
            F.sum(F.col("credited").cast("decimal(28,10)"))
            .cast("string")
            .cast("double")
            .alias("total_credited"),
        )
        .orderBy("position")
    )


attribution_position_based.__doc__ = attribution_position_based.__doc__.format(
    days=_LOOKBACK_DAYS
)
