"""Mining batch 2: market-basket association (the missing classic
analysis family) and out-of-vocabulary rate (the tokenizer-coverage
metric every corpus split should report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..operators.localrel import literal_df
from .llm_text import _SQL_TOKENS
from .registry import register

_TOPK = 50


@register(
    "mining_basket_lift",
    tags=("mining", "basket", "association", "join"),
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
part_orders AS (
  SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, support,
       (CAST(n.n_orders AS DOUBLE) * CAST(support AS DOUBLE))
         / (CAST(pa.c AS DOUBLE) * CAST(pb.c AS DOUBLE)) AS lift
FROM pair_counts
JOIN part_orders pa ON pa.l_partkey = part_a
JOIN part_orders pb ON pb.l_partkey = part_b
CROSS JOIN n
ORDER BY support DESC, lift DESC, part_a, part_b
LIMIT {_TOPK}
""",
)
def mining_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: top co-purchased part pairs by
    support, with lift (observed co-occurrence over the independence
    expectation) — the 2-itemset core of apriori.  The pair generation
    is a self-join on the order key, safe at any scale because BASKETS
    ARE BOUNDED (≤ tens of lines per order ⇒ O(k²) pairs per order,
    linear overall) — the canonical example of a self-join that looks
    quadratic but isn't.  Lift divides in one fixed double order;
    top-k is TakeOrdered with a full deterministic tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    part_orders = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    # r10: the order count rides the plan as a one-row broadcast (the
    # oracle's `n` CTE shape) instead of a separate eager
    # distinct+count driver action that re-ran the items distinct
    # (guide §5: no driver round-trips in the query path).  The lift
    # arithmetic is unchanged: same double product/division order.
    tot = items.agg(
        F.count_distinct("l_orderkey").cast("double").alias("_n_orders")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    pa = part_orders.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    pb = part_orders.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    lift = (F.col("_n_orders") * F.col("support").cast("double")) / (
        F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "support", lift.alias("lift"))
        .orderBy(F.desc("support"), F.desc("lift"), "part_a", "part_b")
        .limit(_TOPK)
    )


@register(
    "text_oov_rate",
    tags=("llm", "text", "vocab", "oov"),
    oracle=f"""
WITH train_vocab AS (
  SELECT DISTINCT unnest({_SQL_TOKENS}) AS term
  FROM documents WHERE doc_id % 2 = 0
),
test_tokens AS (
  SELECT source, unnest({_SQL_TOKENS}) AS term
  FROM documents WHERE doc_id % 2 = 1
),
flagged AS (
  SELECT t.source,
         CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS is_oov
  FROM test_tokens t LEFT JOIN train_vocab v USING (term)
)
SELECT source,
       COUNT(*) AS n_tokens,
       CAST(SUM(is_oov) AS BIGINT) AS n_oov,
       CAST(SUM(is_oov) AS DOUBLE) / COUNT(*) AS oov_rate
FROM flagged
GROUP BY source
ORDER BY source
""",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate: vocabulary built on the even-id half of
    the corpus, token coverage measured on the odd half, per source —
    the held-out check run before freezing a tokenizer (a source with
    high OOV needs vocab budget or normalization work).  Occurrence-
    weighted (every token instance counts, not types).  One distinct
    pass for the vocab, one explode + hash join for the test half —
    both sides shuffle on the term key once."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    vocab = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
        .withColumn("in_vocab", F.lit(1))
    )
    test = d.filter(F.col("doc_id") % 2 == 1).select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    flagged = test.join(vocab, "term", "left").select(
        "source",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("is_oov"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("is_oov").alias("n_oov"),
            (F.sum("is_oov").cast("double") / F.count(F.lit(1))).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ----------------------------------------- round-4 classifier + eval

_SQL_NTOK_M = f"len({_SQL_TOKENS})"
_SQL_PUNCT_M = (
    r"((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE"
    r" / length(text))"
)
_SQL_STOP_EN = (
    r"len(regexp_extract_all(lower(trim(text)),"
    r" '\b(the|of|and|to|in|is|a|for)\b'))"
)
_SQL_QUALITY = f"""ROUND(
    LEAST(1.0, {_SQL_NTOK_M} / 100.0) * 0.4
    + LEAST(1.0, ({_SQL_STOP_EN}::DOUBLE / {_SQL_NTOK_M}) * 5) * 0.3
    + (1.0 - LEAST(1.0, {_SQL_PUNCT_M} * 10)) * 0.3, 6)"""


@register(
    "eval_auc_rank_sum",
    tags=("mining", "eval", "auc", "rank"),
    oracle=f"""
WITH scored AS (
  SELECT {_SQL_QUALITY} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
grp AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS n_pos_s,
         COUNT(*) AS n_s
  FROM scored GROUP BY score
),
cum AS (
  SELECT n_pos_s, n_s,
         CAST(COALESCE(SUM(n_s) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM grp
),
agg AS (
  SELECT CAST(SUM(n_pos_s * (2 * cum_before + n_s + 1)) AS BIGINT)
           AS dbl_rank_sum,
         CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s - n_pos_s) AS BIGINT) AS n_neg
  FROM cum
)
SELECT n_pos, n_neg,
       ROUND((dbl_rank_sum - n_pos * (n_pos + 1))::DOUBLE
             / (2 * n_pos * n_neg), 6) AS auc
FROM agg
""",
)
def eval_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC (ROC area) computed RELATIONALLY as the Mann-Whitney
    rank-sum statistic — the evaluation primitive every classifier
    pipeline needs, with proper tie handling (average ranks) and NO
    per-threshold sweep.  Scale-correct formulation: ranks are never
    materialized per row — the corpus collapses to per-SCORE groups
    (one data shuffle), and each tied group's doubled rank-sum
    contribution is ``n_pos_s · (2·cum_before + n_s + 1)`` via a
    running count over the DISTINCT-score table, which is bounded by
    the score domain (quality is rounded to 6 decimals in [0,1] →
    ≤ 10⁶+1 rows) regardless of corpus size.  Arithmetic stays INTEGER
    until one final division, so the result is bit-identical
    cross-engine.  Score = the corpus quality heuristic; label =
    lang=='en'."""
    from ..functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.round(quality_score(F.col("text")), 6).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy("score").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        F.count(F.lit(1)).alias("n_s"),
    )
    from pyspark.sql import Window

    w_prev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grp.select(
        "n_pos_s",
        "n_s",
        F.coalesce(F.sum("n_s").over(w_prev), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    agg = cum.agg(
        F.sum(
            F.col("n_pos_s") * (2 * F.col("cum_before") + F.col("n_s") + 1)
        )
        .cast("long")
        .alias("dbl_rank_sum"),
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("n_pos_s")).cast("long").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("dbl_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1))
            .cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@register(
    "mining_logreg_irls",
    tags=("mining", "ml", "logreg", "iterative"),
    oracle=None,  # iterative Newton solve with driver-side d×d algebra;
    # differential-tested against a numpy IRLS in
    # tests/test_iterative_ops.py::test_irls_logreg_matches_numpy
)
def mining_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC REGRESSION via IRLS/Newton
    (``operators/logreg.py``): label lang=='en' on three text features
    + intercept.  Each Newton step is ONE map-side-combined aggregate
    producing the d(d+1)/2+d weighted moments (O(#tasks) rows cross the
    exchange — never data); the driver solves a 4×4 system.  The GLM
    twin of the Lloyd trainer.  Rows-only; differential-tested against
    a numpy IRLS (tests/test_iterative_ops.py::
    test_irls_logreg_matches_numpy).  Output: one row per coefficient,
    rounded to 6 (floating partial-sum order is the only
    nondeterminism; at 6 decimals the result is stable)."""
    from ..functions.text import punct_ratio, stopword_ratio, token_count
    from ..operators.logreg import irls_logreg

    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        F.lit(1.0).alias("intercept"),
        (token_count(F.col("text")) / 100.0).alias("ntok_100"),
        punct_ratio(F.col("text")).alias("punct"),
        stopword_ratio(F.col("text")).alias("stop_en"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    cols = ["intercept", "ntok_100", "punct", "stop_en"]
    beta = irls_logreg(feats, feature_cols=cols, label_col="y", iters=8)
    return literal_df(
        spark,
        [(c, round(b, 6)) for c, b in zip(cols, beta)],
        "feature string, beta double",
    )


@register(
    "eval_calibration_bins",
    tags=("mining", "eval", "calibration"),
    oracle=f"""
WITH scored AS (
  SELECT {_SQL_QUALITY} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
binned AS (
  SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin, score, y
  FROM scored
)
SELECT bin,
       COUNT(*) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       ROUND(SUM(y)::DOUBLE / COUNT(*), 6) AS observed_rate,
       ROUND(CAST(SUM(CAST(ROUND(score * 1000000, 0) AS BIGINT)) AS BIGINT)::DOUBLE
             / (1000000 * COUNT(*)), 6) AS mean_score
FROM binned
GROUP BY bin
ORDER BY bin
""",
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability) table for the quality-score-as-
    classifier: decile score bins vs observed positive rate — AUC's
    companion diagnostic (AUC measures ranking, calibration measures
    probability faithfulness).  Mean score per bin goes through a
    ×10⁶-integer route (scores are round-6 already, so the scaling is
    EXACT) and one final division — bit-identical cross-engine, no
    double-sum ordering hazard.  One scan, one 10-row aggregate."""
    from ..functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.round(quality_score(F.col("text")), 6).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        "score",
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("observed_rate"),
            # explicit ROUND before the long cast: Spark's cast
            # TRUNCATES while DuckDB's rounds, and round-6 scores ×10⁶
            # land epsilon off the integer (0.123456e6 = 123455.999…)
            F.round(
                F.sum(F.round(F.col("score") * 1_000_000, 0).cast("long"))
                .cast("double")
                / (F.lit(1_000_000) * F.count(F.lit(1))),
                6,
            ).alias("mean_score"),
        )
        .orderBy("bin")
    )


@register(
    "eval_pr_curve",
    tags=("mining", "eval", "precision-recall", "threshold"),
    oracle=f"""
WITH scored AS (
  SELECT {_SQL_QUALITY} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
grp AS (
  SELECT CAST(ROUND(score * 1000000, 0) AS BIGINT) AS score_micro,
         CAST(SUM(y) AS BIGINT) AS n_pos_s,
         COUNT(*) AS n_s
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s) AS BIGINT) AS n
  FROM grp
),
thr AS (SELECT unnest(generate_series(0, 9)) AS t10),
pred AS (
  SELECT t.t10,
         CAST(COALESCE(SUM(g.n_pos_s) FILTER (
              WHERE g.score_micro >= t.t10 * 100000), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(g.n_s - g.n_pos_s) FILTER (
              WHERE g.score_micro >= t.t10 * 100000), 0) AS BIGINT) AS fp
  FROM thr t CROSS JOIN grp g
  GROUP BY t.t10
)
SELECT p.t10 AS threshold_decile, p.tp, p.fp,
       (tot.n_pos - p.tp) AS fn,
       (tot.n - tot.n_pos - p.fp) AS tn,
       CASE WHEN p.tp + p.fp > 0
            THEN ROUND(p.tp::DOUBLE / (p.tp + p.fp), 6) END AS precision,
       ROUND(p.tp::DOUBLE / tot.n_pos, 6) AS recall,
       CASE WHEN 2 * p.tp + p.fp + (tot.n_pos - p.tp) > 0
            THEN ROUND(2 * p.tp::DOUBLE
                       / (2 * p.tp + p.fp + (tot.n_pos - p.tp)), 6)
       END AS f1
FROM pred p CROSS JOIN tot
ORDER BY threshold_decile
""",
)
def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION/RECALL/F1 at the ten decile thresholds of the
    quality-score classifier (label: lang=='en') — the threshold-sweep
    companion to ``eval_auc_rank_sum`` (ranking quality) and
    ``eval_calibration_bins`` (probability faithfulness): the table a
    team reads to PICK the operating threshold.  Scale-correct
    formulation: the corpus collapses once to per-score groups in
    integer micro-units (bounded by the round-6 score domain,
    ≤ 10⁶+1 rows — the ``eval_auc_rank_sum`` bound), and the 10-row
    threshold spine sweeps THAT table, never the corpus; confusion
    cells stay INTEGER until the two final divisions.  The micro-unit
    comparison (``score_micro >= t·100000``) avoids the float-boundary
    hazard of comparing round-6 doubles against k/10 literals —
    same ×10⁶ route as ``eval_calibration_bins``'s mean."""
    from ..functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.round(quality_score(F.col("text")), 6).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy(
        F.round(F.col("score") * 1_000_000, 0)
        .cast("long")
        .alias("score_micro")
    ).agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        F.count(F.lit(1)).alias("n_s"),
    )
    tot = grp.agg(
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_s").cast("long").alias("n"),
    )
    thr = spark.range(0, 10).select(F.col("id").alias("t10"))
    hit = F.col("score_micro") >= F.col("t10") * 100_000
    pred = (
        grp.crossJoin(F.broadcast(thr))
        .groupBy("t10")
        .agg(
            F.coalesce(F.sum(F.when(hit, F.col("n_pos_s"))), F.lit(0))
            .cast("long")
            .alias("tp"),
            F.coalesce(
                F.sum(F.when(hit, F.col("n_s") - F.col("n_pos_s"))), F.lit(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    fn = F.col("n_pos") - F.col("tp")
    return (
        pred.crossJoin(F.broadcast(tot))
        .select(
            F.col("t10").alias("threshold_decile"),
            "tp",
            "fp",
            fn.alias("fn"),
            (F.col("n") - F.col("n_pos") - F.col("fp")).alias("tn"),
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.round(
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
                ),
            ).alias("precision"),
            F.round(F.col("tp").cast("double") / F.col("n_pos"), 6).alias(
                "recall"
            ),
            F.when(
                2 * F.col("tp") + F.col("fp") + fn > 0,
                F.round(
                    2 * F.col("tp").cast("double")
                    / (2 * F.col("tp") + F.col("fp") + fn),
                    6,
                ),
            ).alias("f1"),
        )
        .orderBy("threshold_decile")
    )
