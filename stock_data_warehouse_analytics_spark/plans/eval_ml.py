"""Retrieval fusion and evaluation statistics: hybrid RRF ranking, kNN
label-accuracy, Poisson-bootstrap confidence intervals, Theil–Sen
robust trend.

These finish the eval family (`plans/mining2.py` AUC / calibration /
PR-curve) with the measurement shapes a training-data team runs
weekly: fuse the dense and sparse retrievers and check the blend
(RRF — the standard hybrid-search combiner), sanity-check embedding
quality with a label-transfer kNN probe, put an honest CI on any
corpus metric without n² resampling (the Poisson bootstrap — the
only bootstrap that runs in one pass at 100 TB), and fit trends that
survive outliers (Theil–Sen).  (The reference repo has none of these
— mandated LLM-pipeline extension surface, like ``plans/lm.py``.)

Cross-engine exactness: ranks come from cosine/jaccard quantized to
integer micro-units with id tiebreaks (the ``sim_topk_bruteforce``
contract); bootstrap weights are integers derived from hash-uniforms
compared against shared literal CDF constants; replicate means are
ratios of exact integer sums; Theil–Sen slopes quantize to nano-units
before the median picks row positions.  Every double op left is a
deterministic expression evaluated identically by Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import hash_int60
from ..operators.similarity import topk_bruteforce
from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .llm_text import _SQL_TOKENS as _SQL_TOKS
from .registry import register

_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_TWO60 = float(1 << 60)

# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of dense cosine + sparse jaccard
# --------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF smoothing constant
_RRF_DEPTH = 20      # per-retriever candidate depth
_RRF_OUT = 10        # fused list length


@register(
    "sim_hybrid_rrf",
    tags=("llm", "similarity", "retrieval", "rrf", "hybrid"),
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
vn AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
  FROM base
),
dense AS (
  SELECT query_id, neighbor_id, rnk FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.vn, c.vn), 6) DESC, c.vec_id
           ) AS rnk
    FROM vn q JOIN vn c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 8
  ) WHERE rnk <= {_RRF_DEPTH}
),
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
),
szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
  WHERE a.doc_id < 8
  GROUP BY a.doc_id, b.doc_id
),
sparse AS (
  SELECT query_id, neighbor_id, rnk FROM (
    SELECT i.query_id, i.neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY i.query_id
             ORDER BY CAST(ROUND(i.c::DOUBLE / (na.n + nb.n - i.c) * 1000000, 0)
                           AS BIGINT) DESC, i.neighbor_id
           ) AS rnk
    FROM inter i
    JOIN szs na ON na.doc_id = i.query_id
    JOIN szs nb ON nb.doc_id = i.neighbor_id
  ) WHERE rnk <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(d.query_id, s.query_id) AS query_id,
         COALESCE(d.neighbor_id, s.neighbor_id) AS neighbor_id,
         COALESCE(1.0 / ({_RRF_K} + d.rnk), 0)
           + COALESCE(1.0 / ({_RRF_K} + s.rnk), 0) AS score
  FROM dense d
  FULL OUTER JOIN sparse s
    ON s.query_id = d.query_id AND s.neighbor_id = d.neighbor_id
)
SELECT query_id, neighbor_id, rrf_rank, ROUND(score, 9) AS rrf_score
FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(ROUND(score * 1000000000, 0) AS BIGINT) DESC,
                    neighbor_id
         ) AS rrf_rank
  FROM fused
) WHERE rrf_rank <= {_RRF_OUT}
ORDER BY query_id, rrf_rank
""",
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via reciprocal-rank fusion (Cormack et al.
    2009, k={k}): the dense retriever is exact cosine top-{depth} over
    the embeddings, the sparse retriever is 3-gram shingle JACCARD
    top-{depth} over the documents (vec_id ↔ doc_id — the embedding of
    document i), fused as Σ 1/({k}+rank) and re-ranked — the standard
    blend behind every production RAG search stack, composing the two
    existing retrieval families into one query.

    Scale shape: the query set is BOUNDED (8 ids, broadcast); the
    dense side is one corpus scan (no shuffle of vectors); the sparse
    side is the capped inverted-index shingle join every dedup query
    uses — only per-(query, candidate) intersection counts shuffle.
    The fusion join is top-{depth}-sized per query.  Ranks are window
    row_numbers over micro-unit-quantized scores with id tiebreaks and
    the fused score is a sum of ≤ 2 deterministic doubles re-quantized
    to nano-units before the final rank, so the fused list is
    bit-stable across engines."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")

    dense = (
        topk_bruteforce(e, e.filter(F.col("vec_id") < 8), k=_RRF_DEPTH)
        .select("query_id", "neighbor_id", F.col("rnk").alias("d_rnk"))
    )

    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(t, 1, greatest(size(t) - 2, 0)),"
                " (w, i) -> concat(w, ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("s"),
    ).distinct()
    szs = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    qsh = sh.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"), "s"
    )
    inter = (
        qsh.join(sh.withColumnRenamed("doc_id", "neighbor_id"), "s")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jacc_micro = F.round(
        F.col("c").cast("double")
        / (F.col("na") + F.col("nb") - F.col("c"))
        * 1000000,
        0,
    ).cast("long")
    w_sp = Window.partitionBy("query_id").orderBy(
        F.desc("j_micro"), "neighbor_id"
    )
    sparse = (
        inter.join(
            # filter BEFORE the hint: the query-side size table is
            # 8 rows once pruned; broadcasting the unfiltered per-doc
            # counts would ship a corpus-grain frame to every executor
            F.broadcast(
                szs.filter(F.col("doc_id") < 8).select(
                    F.col("doc_id").alias("query_id"),
                    F.col("n").alias("na"),
                )
            ),
            "query_id",
        )
        .join(
            szs.select(F.col("doc_id").alias("neighbor_id"),
                       F.col("n").alias("nb")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", jacc_micro.alias("j_micro"))
        .withColumn("s_rnk", F.row_number().over(w_sp))
        .filter(F.col("s_rnk") <= _RRF_DEPTH)
        .select("query_id", "neighbor_id", "s_rnk")
    )

    fused = (
        dense.join(sparse, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.coalesce(1.0 / (_RRF_K + F.col("d_rnk")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("s_rnk")), F.lit(0.0))
            ).alias("score"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score") * 1000000000, 0).cast("long")),
        "neighbor_id",
    )
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w_f))
        .filter(F.col("rrf_rank") <= _RRF_OUT)
        .select(
            "query_id",
            "neighbor_id",
            "rrf_rank",
            F.round("score", 9).alias("rrf_score"),
        )
        .orderBy("query_id", "rrf_rank")
    )


sim_hybrid_rrf.__doc__ = sim_hybrid_rrf.__doc__.format(
    k=_RRF_K, depth=_RRF_DEPTH
)


# --------------------------------------------------------------------------
# kNN label-transfer probe: does embedding neighborhood predict the label?
# --------------------------------------------------------------------------

_KNN_K = 5


@register(
    "mining_knn_label_accuracy",
    tags=("llm", "embedding", "knn", "eval", "classifier"),
    oracle=f"""
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
vn AS (
  SELECT vec_id, label,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
  FROM base
),
test AS (SELECT * FROM vn WHERE vec_id % 25 = 0),
train AS (SELECT * FROM vn WHERE vec_id % 25 <> 0),
nn AS (
  SELECT query_id, actual, n_label FROM (
    SELECT q.vec_id AS query_id, q.label AS actual, c.label AS n_label,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.vn, c.vn), 6) DESC, c.vec_id
           ) AS rnk
    FROM test q JOIN train c ON q.vec_id != c.vec_id
  ) WHERE rnk <= {_KNN_K}
),
votes AS (
  SELECT query_id, actual, n_label, COUNT(*) AS cnt
  FROM nn GROUP BY query_id, actual, n_label
),
pred AS (
  SELECT query_id, actual, n_label AS predicted
  FROM votes
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cnt DESC, n_label) = 1
)
SELECT actual AS label,
       COUNT(*) AS n_test,
       COUNT(*) FILTER (WHERE predicted = actual) AS n_correct,
       ROUND(COUNT(*) FILTER (WHERE predicted = actual)::DOUBLE
             / COUNT(*), 6) AS accuracy
FROM pred GROUP BY actual
ORDER BY label
""",
)
def mining_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN LABEL-TRANSFER probe (k={k}): hold out every 25th vector,
    predict its label by majority vote of its {k} nearest train
    neighbors (cosine), report per-label accuracy — the standard cheap
    audit of whether an embedding space is worth clustering/deduping
    on (if labels don't transfer locally, SemDeDup thresholds are
    meaningless).  Completes the eval family next to AUC/calibration/
    PR-curve.

    Scale shape: the eval set is a hash-sampled 4% slice — NOTE it is
    corpus-PROPORTIONAL, not constant-sized, so the broadcast side
    grows with N: this query is the documented brute-force eval
    BASELINE (same O(|Q|·N) class as ``sim_topk_bruteforce``), and a
    100 TB deployment caps the probe (e.g. ``vec_id % 25 == 0 AND
    vec_id < B``) or swaps in the IVF/LSH stack — allowlisted with
    this caveat in tests/test_plan_shapes.py.  Votes are integer
    counts with
    (count DESC, label ASC) argmax, neighbor ranks quantize cosine to
    6 decimals with id tiebreak — all orderings bit-stable across
    engines."""
    e = load_table(spark, sf_dir, "embeddings")
    test = e.filter(F.col("vec_id") % 25 == 0)
    train = e.filter(F.col("vec_id") % 25 != 0)
    nn = topk_bruteforce(train, test, k=_KNN_K).select(
        "query_id", "neighbor_id"
    )
    labels = e.select("vec_id", "label")
    votes = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cnt"), "n_label")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("actual")
            ),
            "query_id",
        )
        .select("query_id", "actual", F.col("n_label").alias("predicted"))
    )
    return (
        pred.groupBy(F.col("actual").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.count_if(F.col("predicted") == F.col("actual")).alias("n_correct"),
            F.round(
                F.count_if(F.col("predicted") == F.col("actual")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


mining_knn_label_accuracy.__doc__ = mining_knn_label_accuracy.__doc__.format(
    k=_KNN_K
)


# --------------------------------------------------------------------------
# Poisson bootstrap CI — the one-pass bootstrap that scales
# --------------------------------------------------------------------------

_BOOT_B = 100
# Cumulative Poisson(1) CDF — shared literal constants on both engines,
# so the hash-uniform → weight ladder is bit-identical by construction.
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _sql_pois_weight(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE {len(_POIS_CDF)} END)"


def _pois_weight(u) -> F.Column:
    expr = F.when(u < float(_POIS_CDF[0]), 0)
    for k, c in enumerate(_POIS_CDF[1:], start=1):
        expr = expr.when(u < float(c), k)
    return expr.otherwise(len(_POIS_CDF))


@register(
    "eval_poisson_bootstrap_ci",
    tags=("llm", "eval", "bootstrap", "confidence-interval"),
    oracle=f"""
WITH x AS (
  SELECT doc_id, len({_SQL_TOKS}) AS x FROM documents
),
expanded AS (
  SELECT doc_id, x, b,
         {_sql_pois_weight(
             "(" + _SQL_H60.format(x="doc_id::VARCHAR || ':' || b::VARCHAR")
             + f"::DOUBLE / {_TWO60!r})"
         )} AS w
  FROM x, UNNEST(generate_series(0, {_BOOT_B - 1})) AS g(b)
),
reps AS (
  SELECT b,
         CAST(SUM(w * x) AS BIGINT) AS swx,
         CAST(SUM(w) AS BIGINT) AS sw
  FROM expanded GROUP BY b
),
means AS (
  SELECT b, CAST(ROUND(swx::DOUBLE / sw * 1000000, 0) AS BIGINT) AS m_micro
  FROM reps WHERE sw > 0
),
ranked AS (
  SELECT m_micro,
         ROW_NUMBER() OVER (ORDER BY m_micro, b) AS rn,
         COUNT(*) OVER () AS n_reps
  FROM means
)
SELECT (SELECT COUNT(*) FROM x) AS n_docs,
       (SELECT n_reps FROM ranked LIMIT 1) AS b_replicates,
       ROUND((SELECT CAST(SUM(x) AS BIGINT) FROM x)::DOUBLE
             / (SELECT COUNT(*) FROM x), 6) AS point_mean,
       (SELECT m_micro FROM ranked
        WHERE rn = CAST(CEIL(0.025 * n_reps) AS BIGINT))::DOUBLE / 1000000
         AS ci_lo,
       (SELECT m_micro FROM ranked
        WHERE rn = CAST(CEIL(0.975 * n_reps) AS BIGINT))::DOUBLE / 1000000
         AS ci_hi
""",
)
def eval_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP 95% confidence interval on the corpus mean
    token count, B={b} replicates — the one-pass bootstrap (Chamandy
    et al., Google 2012): instead of resampling n-out-of-n (impossible
    distributed), each document enters replicate b with weight
    ~ Poisson(1), derived here from the content hash of (doc_id, b)
    against shared literal CDF constants — fully deterministic, no RNG
    state, any engine regenerates it exactly.

    Scale shape: the ×{b} expansion is MAP-SIDE (explode over a
    sequence literal — no shuffle of raw rows); partial aggregation
    means only #tasks × {b} partial (Σwx, Σw) rows cross the exchange.
    Replicate means are ratios of exact INTEGER sums quantized to
    micro-units; the percentile pick is a nearest-rank row_number over
    the {b}-row replicate table (bounded by the B literal at any
    corpus size).  Output is one report row."""
    d = load_table(spark, sf_dir, "documents")
    x = d.select("doc_id", F.size(tokens(F.col("text"))).alias("x"))
    u = (
        hash_int60(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string")
            )
        ).cast("double")
        / _TWO60
    )
    expanded = (
        x.select(
            "doc_id",
            "x",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .select("doc_id", "x", "b", _pois_weight(u).alias("w"))
    )
    reps = expanded.groupBy("b").agg(
        F.sum(F.col("w") * F.col("x")).cast("long").alias("swx"),
        F.sum("w").cast("long").alias("sw"),
    )
    means = reps.filter(F.col("sw") > 0).select(
        "b",
        F.round(F.col("swx").cast("double") / F.col("sw") * 1000000, 0)
        .cast("long")
        .alias("m_micro"),
    )
    w_rank = Window.orderBy("m_micro", "b")
    ranked = means.select(
        "m_micro",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_reps"),
    )
    lo = ranked.filter(
        F.col("rn") == F.ceil(0.025 * F.col("n_reps")).cast("long")
    ).select((F.col("m_micro").cast("double") / 1000000).alias("ci_lo"))
    hi = ranked.filter(
        F.col("rn") == F.ceil(0.975 * F.col("n_reps")).cast("long")
    ).select((F.col("m_micro").cast("double") / 1000000).alias("ci_hi"))
    n_reps = ranked.agg(F.max("n_reps").alias("b_replicates"))
    point = x.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("x").cast("long").cast("double") / F.count(F.lit(1)), 6
        ).alias("point_mean"),
    )
    return (
        point.crossJoin(F.broadcast(n_reps))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n_docs", "b_replicates", "point_mean", "ci_lo", "ci_hi")
    )


eval_poisson_bootstrap_ci.__doc__ = eval_poisson_bootstrap_ci.__doc__.format(
    b=_BOOT_B
)


# --------------------------------------------------------------------------
# Theil–Sen robust trend per event type
# --------------------------------------------------------------------------

@register(
    "mining_theil_sen_trend",
    tags=("mining", "robust", "trend", "theil-sen"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         {sql_dsum("value")} / COUNT(*) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
pairs AS (
  SELECT a.event_type,
         CAST(ROUND((b.y - a.y) / date_diff('day', a.d, b.d) * 1000000000, 0)
              AS BIGINT) AS slope_n
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, slope_n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope_n) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
),
med AS (
  SELECT event_type, n_pairs,
         CAST(SUM(CASE WHEN rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2
                       THEN slope_n ELSE 0 END) AS BIGINT) AS med2,
         COUNT(*) FILTER (WHERE rn = (n_pairs + 1) // 2
                          OR rn = (n_pairs + 2) // 2) AS n_mid
  FROM ranked GROUP BY event_type, n_pairs
)
SELECT m.event_type,
       (SELECT COUNT(*) FROM daily d WHERE d.event_type = m.event_type)
         AS n_days,
       m.n_pairs,
       ROUND((m.med2::DOUBLE / m.n_mid) / 1000000000, 6) AS sen_slope
FROM med m
ORDER BY m.event_type
""",
)
def mining_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN robust trend of daily mean event value, per event
    type: the median of all pairwise day-to-day slopes — a 29%
    breakdown point where OLS (``mining_ols_trend``) has zero; the
    estimator a metrics team uses when a single bad day would bend a
    least-squares line.

    Scale shape: the corpus collapses once to the CALENDAR-bounded
    (type, day) daily table (exact DECIMAL daily means); the pairwise
    self-join is within-type over that bounded table (span² pairs per
    type — calendar arithmetic, never raw events), and the median is a
    per-type window over the same.  Slopes are deterministic doubles
    quantized to integer nano-units before ranking; the even-count
    median averages the two middle quantized values in exact integer
    arithmetic.  Bit-stable across engines end-to-end."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg((dsum("value") / F.count(F.lit(1))).alias("y"))
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("y").alias("y1")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("y").alias("y2"),
    )
    pairs = a.join(
        b,
        (F.col("et2") == F.col("event_type")) & (F.col("d1") < F.col("d2")),
    ).select(
        "event_type",
        F.round(
            (F.col("y2") - F.col("y1"))
            / F.datediff("d2", "d1")
            * 1000000000,
            0,
        )
        .cast("long")
        .alias("slope_n"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_n")
    wc = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope_n",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_pairs"),
    )
    is_mid = (
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    ) | (F.col("rn") == F.expr("(n_pairs + 2) div 2"))
    med = ranked.groupBy("event_type", "n_pairs").agg(
        F.sum(F.when(is_mid, F.col("slope_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("med2"),
        F.count_if(is_mid).alias("n_mid"),
    )
    n_days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        med.join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.round(
                (F.col("med2").cast("double") / F.col("n_mid")) / 1000000000, 6
            ).alias("sen_slope"),
        )
        .orderBy("event_type")
    )
