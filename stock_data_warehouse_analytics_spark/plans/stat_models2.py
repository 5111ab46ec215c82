"""Statistical-model audits, part 2: interpolated Kneser–Ney LM
perplexity, a curriculum-learning schedule, and CUSUM changepoint
detection.

Extends ``plans/lm.py`` (add-one bigram gate) and ``plans/stat_models``
(NB classifier, K-M survival) with the next rung of each family: the
smoothing production LMs actually use (KN — the KenLM default), the
schedule a curriculum-learning run derives from LM scores, and the
sequential changepoint statistic a metrics team alarms on.  (None of
these exist in the reference repo — mandated LLM-pipeline extension
surface.)

Scale shapes: LM models stay (vocabulary)-sized (Heaps' law);
curriculum ranking uses the bucketed global rank (n-way partitioned
sort — no single-partition exchange at any size); CUSUM runs on the
calendar-bounded per-day table.

Cross-engine exactness: same contracts as the siblings — integer
counts, deterministic per-row double ops written in identical order on
both engines, micro/nano-unit integer quantization before any
order-dependent step, DECIMAL exact sums (``plans/exact.dsum``) for
float aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.ranking import bucketed_global_rank
from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .lm import _SQL_DOC_PPL
from .llm_text import _SQL_TOKENS as _SQL_TOKS
from .registry import register


# --------------------------------------------------------------------------
# Interpolated Kneser–Ney bigram perplexity
# --------------------------------------------------------------------------

_KN_D = 0.75  # the standard absolute-discount constant


@register(
    "text_lm_kneser_ney",
    tags=("llm", "text", "language-model", "kneser-ney", "perplexity"),
    oracle=f"""
WITH toks AS (SELECT doc_id, source, {_SQL_TOKS} AS t FROM documents),
tbi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c12
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE doc_id % 2 = 0
  GROUP BY w1, w2
),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM tbi GROUP BY w1),
nf AS (SELECT w1, COUNT(*) AS nf FROM tbi GROUP BY w1),
nc AS (SELECT w2, COUNT(*) AS nc FROM tbi GROUP BY w2),
tv AS (
  SELECT (SELECT COUNT(*) FROM tbi) AS t,
         (SELECT COUNT(DISTINCT w)
          FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)) AS v
),
abi AS (
  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE doc_id % 2 = 1
),
scored AS (
  SELECT a.doc_id, a.source,
         LN(CASE WHEN COALESCE(c1.c1, 0) > 0 THEN
              GREATEST(COALESCE(b.c12, 0)::DOUBLE - {_KN_D}, 0.0) / c1.c1
              + ({_KN_D} * COALESCE(nf.nf, 0) / c1.c1)
                * ((COALESCE(nc.nc, 0) + 1)::DOUBLE / (tv.t + tv.v))
            ELSE (COALESCE(nc.nc, 0) + 1)::DOUBLE / (tv.t + tv.v)
            END) AS lp
  FROM abi a
  LEFT JOIN tbi b ON b.w1 = a.w1 AND b.w2 = a.w2
  LEFT JOIN c1 ON c1.w1 = a.w1
  LEFT JOIN nf ON nf.w1 = a.w1
  LEFT JOIN nc ON nc.w2 = a.w2
  CROSS JOIN tv
),
ppl AS (
  SELECT doc_id, source,
         ROUND(EXP(-({sql_dsum("lp")}) / COUNT(*)), 6) AS ppl
  FROM scored GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND({sql_dsum("ppl")} / COUNT(*), 6) AS avg_ppl,
       MIN(ppl) AS min_ppl,
       MAX(ppl) AS max_ppl
FROM ppl
GROUP BY source
ORDER BY source
""",
)
def text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER–NEY bigram perplexity (absolute discount
    D={d}) — the smoothing production LMs actually ship (the KenLM
    default), next to ``text_lm_perplexity``'s add-one baseline: train
    on the even-doc_id half, score the odd half, so unseen bigrams and
    unseen contexts genuinely exercise the backoff.  The continuation
    probability P_cont(w₂) = (N₁₊(·w₂)+1)/(T+V) is add-one-smoothed so
    unseen words stay scoreable (documented variant; KN's continuation
    counts N₁₊ are otherwise standard — Kneser & Ney 1995).

    Scale shape: the LM is four Heaps-bounded count tables (bigram
    c₁₂, context totals c₁, distinct-continuation counts N₁₊ forward/
    backward) plus a one-row (T, V) scalar; scoring is one pass of the
    odd half's bigram stream left-joined to them on token keys.
    Per-row P is a fixed-order deterministic double expression,
    per-doc/per-source sums are exact DECIMAL — bit-identical panels
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("t"))
    train_bi = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = train_bi.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    nf = train_bi.groupBy("w1").agg(F.count(F.lit(1)).alias("nf"))
    nc = train_bi.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    t_scalar = train_bi.agg(F.count(F.lit(1)).alias("t"))
    v_scalar = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    tv = t_scalar.crossJoin(v_scalar)

    abi = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    pcont = (F.coalesce(F.col("nc"), F.lit(0)) + 1).cast("double") / (
        F.col("t") + F.col("v")
    )
    c1v = F.coalesce(F.col("c1"), F.lit(0))
    p_seen = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - _KN_D,
            F.lit(0.0),
        )
        / F.col("c1")
        + (_KN_D * F.coalesce(F.col("nf"), F.lit(0)) / F.col("c1")) * pcont
    )
    scored = (
        abi.join(train_bi, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .join(nf, ["w1"], "left")
        .join(nc, ["w2"], "left")
        .crossJoin(F.broadcast(tv))
        .select(
            "doc_id",
            "source",
            F.log(F.when(c1v > 0, p_seen).otherwise(pcont)).alias("lp"),
        )
    )
    ppl = scored.groupBy("doc_id", "source").agg(
        F.round(F.exp(-dsum("lp") / F.count(F.lit(1))), 6).alias("ppl")
    )
    return (
        ppl.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(dsum("ppl") / F.count(F.lit(1)), 6).alias("avg_ppl"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        )
        .orderBy("source")
    )


text_lm_kneser_ney.__doc__ = text_lm_kneser_ney.__doc__.format(d=_KN_D)


# --------------------------------------------------------------------------
# Curriculum schedule from LM perplexity
# --------------------------------------------------------------------------

_CURR_PHASES = 4


@register(
    "mix_curriculum_schedule",
    tags=("llm", "mixing", "curriculum", "schedule"),
    oracle=f"""
WITH toks AS (SELECT doc_id, source, {_SQL_TOKS} AS t FROM documents),
{_SQL_DOC_PPL},
ranked AS (
  SELECT p.doc_id, p.source, p.ppl, len(tk.t) AS n_tokens,
         ROW_NUMBER() OVER (
           ORDER BY CAST(ROUND(p.ppl * 1000000, 0) AS BIGINT), p.doc_id
         ) AS rnk,
         COUNT(*) OVER () AS n
  FROM ppl p JOIN toks tk ON tk.doc_id = p.doc_id
)
SELECT ((rnk - 1) * {_CURR_PHASES}) // n + 1 AS phase,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(ppl) AS ppl_min,
       MAX(ppl) AS ppl_max
FROM ranked
GROUP BY phase
ORDER BY phase
""",
)
def mix_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM-learning schedule from LM perplexity: rank every
    scoreable document (≥ 2 tokens — the LM-gate contract) by add-one
    bigram perplexity ascending (easy/templatey first, surprising
    last), split the ranking into {p} equal-rank phases, and report
    each phase's doc count, token budget and perplexity band — the
    "train on easy data first, anneal to hard" plan (Bengio et al.
    2009) that completes the mixing family: weights → budgets →
    epochs → ORDER.

    Scale shape: the per-doc perplexity frame is the session-cached
    ``plans/lm.doc_ppl_frame`` (one scored materialization shared with
    the gate panel); the global ranking is the bucketed global rank
    (n-way partitioned sort, two bounded driver round-trips — NO
    single-partition exchange at any corpus size, the
    ``win_ntile_deciles`` machinery); phase assignment is pure integer
    arithmetic on (rank, n).  Perplexities quantize to micro-units
    before ranking with doc_id tiebreak — bit-stable phase boundaries
    across engines."""
    from .lm import doc_ppl_frame

    d = load_table(spark, sf_dir, "documents")
    ppl = doc_ppl_frame(spark, sf_dir)
    n_tok = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    base = ppl.join(n_tok, "doc_id").select(
        "doc_id",
        "ppl",
        "n_tokens",
        F.round(F.col("ppl") * 1000000, 0).cast("long").alias("ppl_micro"),
    )
    ranked, n = bucketed_global_rank(
        base, ["ppl_micro", "doc_id"], rank_col="rnk"
    )
    return (
        ranked.select(
            F.expr(f"((rnk - 1) * {_CURR_PHASES}) div {int(n)}").alias(
                "phase0"
            ),
            "ppl",
            "n_tokens",
        )
        .groupBy((F.col("phase0") + 1).alias("phase"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("ppl").alias("ppl_min"),
            F.max("ppl").alias("ppl_max"),
        )
        .orderBy("phase")
    )


mix_curriculum_schedule.__doc__ = mix_curriculum_schedule.__doc__.format(
    p=_CURR_PHASES
)


# --------------------------------------------------------------------------
# CUSUM changepoint per event type
# --------------------------------------------------------------------------

@register(
    "events_cusum_changepoint",
    tags=("events", "changepoint", "cusum", "anomaly"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         {sql_dsum("value")} / COUNT(*) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
mu AS (
  SELECT event_type, {sql_dsum("y")} / COUNT(*) AS mu,
         COUNT(*) AS n_days
  FROM daily GROUP BY event_type
),
cusum AS (
  SELECT d.event_type, d.d, d.y, mu.mu, mu.n_days,
         CAST(SUM(CAST(ROUND((d.y - mu.mu) * 1000000000, 0) AS BIGINT))
              OVER (PARTITION BY d.event_type ORDER BY d.d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s_nano
  FROM daily d JOIN mu ON mu.event_type = d.event_type
),
peak AS (
  SELECT event_type, d AS cp_day, s_nano, n_days
  FROM cusum
  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY ABS(s_nano) DESC, d) = 1
),
sides AS (
  SELECT c.event_type,
         ROUND({sql_dsum("CASE WHEN c.d <= p.cp_day THEN c.y END")}
               / COUNT(CASE WHEN c.d <= p.cp_day THEN 1 END), 6)
           AS mean_before,
         ROUND({sql_dsum("CASE WHEN c.d > p.cp_day THEN c.y END")}
               / COUNT(CASE WHEN c.d > p.cp_day THEN 1 END), 6)
           AS mean_after
  FROM cusum c JOIN peak p ON p.event_type = c.event_type
  GROUP BY c.event_type
)
SELECT p.event_type, p.n_days, p.cp_day,
       ROUND(p.s_nano::DOUBLE / 1000000000, 6) AS cusum_peak,
       s.mean_before, s.mean_after
FROM peak p JOIN sides s ON s.event_type = p.event_type
ORDER BY p.event_type
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT detection on daily mean event value, per
    type: the peak of the cumulative sum of deviations from the grand
    mean marks the most likely level-shift day (Page 1954 — the
    classic single-changepoint statistic behind metric alarms),
    reported with the pre/post means so the shift is readable.
    Completes the anomaly family next to z-score, MAD and burst
    detection.

    Scale shape: events collapse once to the CALENDAR-bounded
    (type, day) daily table (exact DECIMAL means); the per-type grand
    mean is a dimension-sized aggregate; the cumulative sum windows
    per type over that bounded table.  Deviations quantize to integer
    NANO-units before the running sum (order-independent BIGINT
    arithmetic), the peak argmax breaks ties on earliest day, and the
    side means are exact DECIMAL — the full report is bit-stable
    across engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg((dsum("value") / F.count(F.lit(1))).alias("y"))
    mu = daily.groupBy("event_type").agg(
        (dsum("y") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = daily.join(F.broadcast(mu), "event_type").withColumn(
        "s_nano",
        F.sum(
            F.round((F.col("y") - F.col("mu")) * 1000000000, 0).cast("long")
        )
        .over(w_cum)
        .cast("long"),
    )
    w_peak = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s_nano"))), "d"
    )
    peak = (
        cusum.withColumn("rn", F.row_number().over(w_peak))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("d").alias("cp_day"),
            "s_nano",
            "n_days",
        )
    )
    sides = (
        cusum.join(
            F.broadcast(peak.select("event_type", "cp_day")), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.round(
                dsum(F.when(F.col("d") <= F.col("cp_day"), F.col("y")))
                / F.count(F.when(F.col("d") <= F.col("cp_day"), 1)),
                6,
            ).alias("mean_before"),
            F.round(
                dsum(F.when(F.col("d") > F.col("cp_day"), F.col("y")))
                / F.count(F.when(F.col("d") > F.col("cp_day"), 1)),
                6,
            ).alias("mean_after"),
        )
    )
    return (
        peak.join(sides, "event_type")
        .select(
            "event_type",
            "n_days",
            "cp_day",
            F.round(F.col("s_nano").cast("double") / 1000000000, 6).alias(
                "cusum_peak"
            ),
            "mean_before",
            "mean_after",
        )
        .orderBy("event_type")
    )
