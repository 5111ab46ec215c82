"""Model-evaluation depth, round 7: binary-quantized embedding
retrieval audit, decile lift/gains table, and the Murphy decomposition
of the Brier score.

These complete the eval family next to AUC/PR/calibration/nDCG/recall:
the lift/gains curve is THE campaign-targeting readout (how much better
than random is the top decile?), the Brier decomposition separates a
probabilistic score's calibration (reliability) from its discrimination
(resolution), and the binary-quantization audit measures what 1-bit
embeddings lose — the memory-bound retrieval trick (32× smaller
vectors, XOR+popcount distance) every large-scale vector store offers.

Cross-engine exactness follows the house rules (plans/exact.py):
integer/decimal aggregation everywhere a sum crosses engines,
nano-quantization before any multi-row double sum, round-6 + full
tiebreaks before any rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .mining2 import _SQL_QUALITY
from ..operators.localrel import literal_df
from .registry import register

_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# ------------------------------------------- binary-quantized retrieval

_BQ_NQ = 16  # bounded query set (vec_id < 16)
_BQ_K = 10  # recall depth
_BQ_DIM = 64


def _sql_half_bits(vec: str, base: int) -> str:
    """32 CASE terms packing sign bits [base, base+32) of ``vec`` into
    one BIGINT (1-based list indexing) — kept to 32 bits per word so
    neither engine's signed BIGINT can overflow."""
    terms = [
        f"(CASE WHEN {vec}[{base + i + 1}] > 0 THEN {1 << i}::BIGINT"
        " ELSE 0::BIGINT END)"
        for i in range(32)
    ]
    return "(" + " + ".join(terms) + ")"


def _half_bits(vec: F.Column, base: int) -> F.Column:
    """Spark mirror of :func:`_sql_half_bits`: fold the 32 sign bits
    into a long, high bit first (acc·2 + bit keeps every intermediate
    < 2³², so no overflow on either engine)."""
    return F.aggregate(
        F.sequence(F.lit(31), F.lit(0), F.lit(-1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + F.when(
            F.element_at(vec, (F.lit(base + 1) + i).cast("int")) > 0, 1
        )
        .otherwise(0)
        .cast("long"),
    )


# sign-bit words and unit vectors per embedding, split into the bounded
# query side ``q(query_id, qw1, qw2, qn)`` and the corpus side
# ``c(neighbor_id, cw1, cw2, cn)``
_SQL_BQ_QC = f"""base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
bits AS (
  SELECT vec_id,
         {_sql_half_bits('v', 0)} AS w1,
         {_sql_half_bits('v', 32)} AS w2,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
  FROM base
),
q AS (SELECT vec_id AS query_id, w1 AS qw1, w2 AS qw2, vn AS qn
      FROM bits WHERE vec_id < {_BQ_NQ}),
c AS (SELECT vec_id AS neighbor_id, w1 AS cw1, w2 AS cw2, vn AS cn
      FROM bits)"""


@register(
    "emb_binary_quantization",
    tags=("llm", "embedding", "quantization", "similarity", "eval"),
    oracle=f"""
WITH {_SQL_BQ_QC},
scored AS (
  SELECT query_id, neighbor_id,
         bit_count(xor(qw1, cw1)) + bit_count(xor(qw2, cw2)) AS hamming,
         ROUND(list_dot_product(qn, cn), 6) AS cosine
  FROM q, c WHERE query_id != neighbor_id
),
hamm_rk AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS h_rnk
  FROM scored
),
cos_rk AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS c_rnk
  FROM scored
)
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(h.neighbor_id)::DOUBLE / COUNT(*), 6)
         AS recall_at{_BQ_K}
FROM (SELECT * FROM cos_rk WHERE c_rnk <= {_BQ_K}) t
LEFT JOIN (SELECT * FROM hamm_rk WHERE h_rnk <= {_BQ_K}) h
  ON h.query_id = t.query_id AND h.neighbor_id = t.neighbor_id
GROUP BY t.query_id
ORDER BY t.query_id
""",
)
def emb_binary_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY (1-bit) embedding quantization audit: pack each vector's
    64 sign bits into two 32-bit words, rank the corpus per query by
    Hamming distance (XOR + popcount — the 32×-compressed distance
    modern vector stores use as a first pass), and report recall@10
    against the exact-cosine truth per query — the number that decides
    whether the 1-bit index can serve as the candidate generator
    (typ. re-ranked by full-precision vectors, as ``sim_topk_ivfpq``
    does with PQ codes).

    Exactness: sign bits are exact (>0 on the same float values in
    both engines); Hamming is BIGINT XOR+popcount; both rankings use
    full (metric, neighbor_id) tiebreaks, cosine pre-rounded to 6 dp;
    recall is an integer ratio with one final round-6 division.

    Scale shape: the two bit-words are computed ONCE per vector at
    scan time (map-side, a 16-byte signature per embedding — this is
    the artifact a real pipeline materializes next to the vectors);
    the query side is a BOUNDED {nq}-row set (broadcast, with its
    written bound in tests/test_plan_shapes._BOUNDED_BROADCAST);
    per-query top-k is a partitioned window, no global sort."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    norm = F.sqrt(F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    ))
    bits = e.select(
        "vec_id",
        _half_bits(v, 0).alias("w1"),
        _half_bits(v, 32).alias("w2"),
        F.transform(v, lambda x: x.cast("double") / norm).alias("vn"),
    )
    q = bits.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
        F.col("vn").alias("qn"),
    )
    c = bits.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("w1").alias("cw1"),
        F.col("w2").alias("cw2"),
        F.col("vn").alias("cn"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
            + F.bit_count(F.col("qw2").bitwiseXOR(F.col("cw2")))
        ).alias("hamming"),
        F.round(
            F.aggregate(
                F.zip_with(F.col("qn"), F.col("cn"), lambda a, b: a * b),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("cosine"),
    )
    w_h = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    w_c = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    hamm10 = (
        scored.withColumn("h_rnk", F.row_number().over(w_h))
        .filter(F.col("h_rnk") <= _BQ_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    )
    truth10 = (
        scored.withColumn("c_rnk", F.row_number().over(w_c))
        .filter(F.col("c_rnk") <= _BQ_K)
        .select("query_id", "neighbor_id")
    )
    return (
        truth10.join(hamm10, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.count("_hit").cast("long").alias("n_hit"),
            F.round(
                F.count("_hit").cast("double") / F.count(F.lit(1)), 6
            ).alias(f"recall_at{_BQ_K}"),
        )
        .orderBy("query_id")
    )


emb_binary_quantization.__doc__ = emb_binary_quantization.__doc__.format(
    nq=_BQ_NQ
)


# ------------------------------------------------- decile lift / gains

_LIFT_NTILES = 10


@register(
    "eval_lift_gain_curve",
    tags=("mining", "eval", "lift", "gains", "targeting"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CAST(COUNT(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
           AS score,
         CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase') > 0
              THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
),
deciled AS (
  SELECT user_id, score, y,
         NTILE({_LIFT_NTILES}) OVER (ORDER BY score DESC, user_id)
           AS decile
  FROM users
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(y) AS BIGINT) AS pos_all
  FROM users
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM deciled GROUP BY decile
)
SELECT p.decile, p.n, p.n_pos,
       ROUND(p.n_pos::DOUBLE / p.n, 6) AS response_rate,
       ROUND((p.n_pos::DOUBLE / p.n) / (t.pos_all::DOUBLE / t.n_all), 6)
         AS lift,
       CAST(SUM(p.n_pos) OVER (ORDER BY p.decile) AS BIGINT)
         AS cum_pos,
       ROUND(SUM(p.n_pos) OVER (ORDER BY p.decile)::DOUBLE / t.pos_all, 6)
         AS cum_gain
FROM per p CROSS JOIN tot t
ORDER BY p.decile
""",
)
def eval_lift_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT / CUMULATIVE-GAINS table — the campaign-targeting
    readout every scoring model ships with: users ranked by an
    engagement score (non-purchase event count, the leakage-free
    activity proxy), cut into {n} equal NTILE buckets, each reporting
    its purchase response rate, its LIFT over the base rate, and the
    cumulative share of all purchasers captured down to that decile
    (the gains curve; random targeting is the cum_gain = decile/{n}
    diagonal).

    Exactness: scores and labels are integer counts; NTILE with a full
    (score DESC, user_id) tiebreak is deterministic and splits
    identically in both engines (equal buckets, remainder to the
    front); rates/lift/gain are integer ratios with final round-6
    divisions.

    Scale shape: one (user) grouped count over events (map-side
    partials); the exact equal-count decile cut is USER-grain global
    ranking, done DISTRIBUTED via ``bucketed_global_rank`` (range
    buckets + per-bucket window + offsets — two bounded driver
    round-trips, never a single-partition sort of the user table),
    then NTILE's exact bucket arithmetic (first N mod {n} buckets get
    one extra row) applied as a closed-form expression on the global
    rank; the decile summary is {n} rows joined to a one-row total."""
    from ..operators.ranking import bucketed_global_rank

    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") != "purchase", 1))
        .cast("long")
        .alias("score"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    ranked, n_rows = bucketed_global_rank(
        users.withColumn("neg_score", -F.col("score")),
        ["neg_score", "user_id"],
        rank_col="g",
    )
    # NTILE(k) from the exact global rank: with N = qk + r, the first
    # r buckets hold q+1 rows — the same fill rule both engines use
    nt_q, nt_r = divmod(n_rows, _LIFT_NTILES)
    g = F.col("g")
    if nt_q == 0:
        decile_expr = g
    else:
        head = nt_r * (nt_q + 1)
        decile_expr = F.when(
            g <= head, ((g - 1) / (nt_q + 1)).cast("long") + 1
        ).otherwise(nt_r + ((g - head - 1) / nt_q).cast("long") + 1)
    deciled = ranked.withColumn("decile", decile_expr)
    tot = users.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("pos_all"),
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias(
                "response_rate"
            ),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("pos_all").cast("double") / F.col("n_all")),
                6,
            ).alias("lift"),
            F.sum("n_pos").over(w_cum).cast("long").alias("cum_pos"),
            F.round(
                F.sum("n_pos").over(w_cum).cast("double")
                / F.col("pos_all"),
                6,
            ).alias("cum_gain"),
        )
        .orderBy("decile")
    )


eval_lift_gain_curve.__doc__ = eval_lift_gain_curve.__doc__.format(
    n=_LIFT_NTILES
)


# ------------------------------------------- Brier / Murphy decomposition


@register(
    "eval_brier_decomposition",
    tags=("mining", "eval", "calibration", "brier"),
    oracle=f"""
WITH scored AS (
  SELECT {_SQL_QUALITY} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
base AS (
  SELECT CAST(ROUND(score * 1000000, 0) AS BIGINT) AS s6, y,
         LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin
  FROM scored
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         SUM((s6 - y * 1000000)::DECIMAL(19,0)
             * (s6 - y * 1000000)::DECIMAL(19,0)) AS brier_num
  FROM base
),
per AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS pos_b,
         CAST(SUM(s6) AS BIGINT) AS s1,
         SUM(s6::DECIMAL(19,0) * s6::DECIMAL(19,0)) AS m2
  FROM base GROUP BY bin
),
terms AS (
  SELECT
    CAST(ROUND(n_b * POWER(s1::DOUBLE / (n_b * 1000000.0)
                           - pos_b::DOUBLE / n_b, 2)
               * 1000000000.0, 0) AS BIGINT) AS rel_nano,
    CAST(ROUND(n_b * POWER(pos_b::DOUBLE / n_b
                           - (SELECT pos FROM g)::DOUBLE
                             / (SELECT n FROM g), 2)
               * 1000000000.0, 0) AS BIGINT) AS res_nano,
    CAST(ROUND((m2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_b)
               / 1000000000000.0 * 1000000000.0, 0) AS BIGINT)
      AS wbv_nano
  FROM per
)
SELECT g.n,
       ROUND(g.pos::DOUBLE / g.n, 6) AS base_rate,
       ROUND(g.brier_num::DOUBLE / (g.n * 1000000000000.0), 6) AS brier,
       ROUND(t.rel::DOUBLE / (g.n * 1000000000.0), 6) AS reliability,
       ROUND(t.res::DOUBLE / (g.n * 1000000000.0), 6) AS resolution,
       ROUND((g.pos::DOUBLE / g.n) * (1.0 - g.pos::DOUBLE / g.n), 6)
         AS uncertainty,
       ROUND(t.wbv::DOUBLE / (g.n * 1000000000.0), 6)
         AS within_bin_var
FROM g, (SELECT CAST(SUM(rel_nano) AS BIGINT) AS rel,
                CAST(SUM(res_nano) AS BIGINT) AS res,
                CAST(SUM(wbv_nano) AS BIGINT) AS wbv
         FROM terms) t
""",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE + MURPHY DECOMPOSITION of the quality-score-as-
    classifier (same (score, y = lang=='en') pairs and decile bins as
    ``eval_calibration_bins``): Brier = mean (score − y)², split into
    RELIABILITY (Σ n_b(s̄_b − ȳ_b)²/N — calibration error, lower
    better), RESOLUTION (Σ n_b(ȳ_b − ȳ)²/N — discrimination, higher
    better), UNCERTAINTY (ȳ(1−ȳ) — the irreducible base-rate term),
    and the WITHIN-BIN score variance (the residual that makes the
    binned identity brier = rel − res + unc + wbv hold for continuous
    scores).  This is the decomposition a forecasting review reads
    instead of the raw Brier number: it says WHERE a score is losing
    (miscalibration vs no signal).

    Exactness: scores are round-6, so s6 = score·10⁶ is an exact
    BIGINT; the Brier numerator is a DECIMAL(38,0) sum of integer
    squares (one double division at the end); each per-bin term is a
    fixed-order double expression nano-quantized BEFORE the 10-row sum
    (no summation-order hazard); base-rate/uncertainty are integer
    ratios.

    Scale shape: one scan → one 10-row binned aggregate + one one-row
    global (both map-side partials); everything after is constant-size
    arithmetic."""
    from ..functions.text import quality_score

    _d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.round(quality_score(F.col("text")), 6).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    base = scored.select(
        F.round(F.col("score") * 1_000_000, 0).cast("long").alias("s6"),
        "y",
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
    )
    diff = F.col("s6") - F.col("y") * 1_000_000
    g = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.sum(_d(diff) * _d(diff)).alias("brier_num"),
    )
    per = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("pos_b"),
        F.sum("s6").cast("long").alias("s1"),
        F.sum(_d(F.col("s6")) * _d(F.col("s6"))).alias("m2"),
    )
    ybar = F.col("pos").cast("double") / F.col("n")
    sbar_b = F.col("s1").cast("double") / (F.col("n_b") * 1_000_000.0)
    ybar_b = F.col("pos_b").cast("double") / F.col("n_b")
    terms = per.crossJoin(F.broadcast(g)).select(
        F.round(
            F.col("n_b") * F.pow(sbar_b - ybar_b, 2) * 1_000_000_000.0, 0
        )
        .cast("long")
        .alias("rel_nano"),
        F.round(
            F.col("n_b") * F.pow(ybar_b - ybar, 2) * 1_000_000_000.0, 0
        )
        .cast("long")
        .alias("res_nano"),
        F.round(
            (
                F.col("m2").cast("double")
                - F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n_b")
            )
            / 1_000_000_000_000.0
            * 1_000_000_000.0,
            0,
        )
        .cast("long")
        .alias("wbv_nano"),
    )
    tsum = terms.agg(
        F.sum("rel_nano").cast("long").alias("rel"),
        F.sum("res_nano").cast("long").alias("res"),
        F.sum("wbv_nano").cast("long").alias("wbv"),
    )
    return g.crossJoin(F.broadcast(tsum)).select(
        "n",
        F.round(ybar, 6).alias("base_rate"),
        F.round(
            F.col("brier_num").cast("double")
            / (F.col("n") * 1_000_000_000_000.0),
            6,
        ).alias("brier"),
        F.round(
            F.col("rel").cast("double") / (F.col("n") * 1_000_000_000.0), 6
        ).alias("reliability"),
        F.round(
            F.col("res").cast("double") / (F.col("n") * 1_000_000_000.0), 6
        ).alias("resolution"),
        F.round(ybar * (F.lit(1.0) - ybar), 6).alias("uncertainty"),
        F.round(
            F.col("wbv").cast("double") / (F.col("n") * 1_000_000_000.0), 6
        ).alias("within_bin_var"),
    )


# ------------------------------------- two-stage binary → exact re-rank

_BR_CAND = 50  # Hamming candidate depth fed to the exact re-rank
_BR_K = 5  # final list length


@register(
    "sim_topk_binary_rerank",
    tags=("llm", "similarity", "ann", "quantization", "rerank"),
    oracle=f"""
WITH {_SQL_BQ_QC},
hamm AS (
  SELECT query_id, neighbor_id, qn, cn,
         bit_count(xor(qw1, cw1)) + bit_count(xor(qw2, cw2)) AS hamming
  FROM q, c WHERE query_id != neighbor_id
),
cand AS (
  SELECT query_id, neighbor_id, qn, cn, hamming FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY hamming, neighbor_id) AS h_rnk
    FROM hamm
  ) WHERE h_rnk <= {_BR_CAND}
),
rer AS (
  SELECT query_id, neighbor_id, hamming,
         ROUND(list_dot_product(qn, cn), 6) AS cosine
  FROM cand
)
SELECT query_id, neighbor_id, hamming, cosine, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM rer
) WHERE rnk <= {_BR_K}
ORDER BY query_id, rnk
""",
)
def sim_topk_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE binary-quantized retrieval — the PRODUCTION shape the
    ``emb_binary_quantization`` audit justifies: stage 1 ranks the
    corpus per query by 1-bit Hamming distance (XOR+popcount over two
    packed 32-bit words — 32× less memory traffic than float vectors)
    and keeps only the top {cand} candidates; stage 2 re-ranks JUST
    those candidates by exact cosine and emits the top {k}.  Same
    candidate-generate → exact-re-rank economics as
    ``sim_topk_ivf_probe``/``sim_topk_ivfpq``, with the index being
    16 bytes per vector instead of centroids/codebooks.

    Exactness: Hamming is integer; both ranks use full tiebreaks;
    cosine is the shared zip_with/aggregate ≡ list_dot_product fold,
    rounded to 6 dp before ranking.

    Scale shape: stage 1 carries ONLY (id, two bit words) — the float
    vectors never enter the |Q|×N Hamming scoring (the r7 verdict's
    memory-traffic finding #4: projecting the normalized vectors into
    the pre-cut join shipped them per (query, corpus-row) pair); after
    the {cand}-per-query cut, the ≤ |Q|·{cand} candidate rows join the
    vectors BACK — the query side from the bounded {nq}-row broadcast
    (written bound in tests/test_plan_shapes._BOUNDED_BROADCAST), the
    corpus side by an equi-join AQE resolves as a broadcast of the
    tiny candidate list probing one pruned (vec_id, embedding) scan,
    the Spark rendering of a vector-store point-lookup.  Stage-2 cost
    is O(|Q|·{cand}) dot products regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    norm = F.sqrt(
        F.aggregate(
            v,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    vecs = e.select(
        "vec_id",
        F.transform(v, lambda x: x.cast("double") / norm).alias("vn"),
    )
    bits = e.select(
        "vec_id",
        _half_bits(v, 0).alias("w1"),
        _half_bits(v, 32).alias("w2"),
    )
    q = bits.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    c = bits.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("w1").alias("cw1"),
        F.col("w2").alias("cw2"),
    )
    hamm = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
            + F.bit_count(F.col("qw2").bitwiseXOR(F.col("cw2")))
        ).alias("hamming"),
    )
    w_h = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = (
        hamm.withColumn("h_rnk", F.row_number().over(w_h))
        .filter(F.col("h_rnk") <= _BR_CAND)
        .select("query_id", "neighbor_id", "hamming")
    )
    qvecs = vecs.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qn")
    )
    rer = (
        cand.join(F.broadcast(qvecs), "query_id")
        .join(
            vecs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("vn").alias("cn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("qn"), F.col("cn"), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("cosine"),
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w_c))
        .filter(F.col("rnk") <= _BR_K)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rnk")
        .orderBy("query_id", "rnk")
    )


sim_topk_binary_rerank.__doc__ = sim_topk_binary_rerank.__doc__.format(
    cand=_BR_CAND, k=_BR_K, nq=_BQ_NQ
)


# ------------------------------ binary-rerank candidate-depth tuning

_BD_SWEEP = (5, 10, 25, 50, 100)  # stage-1 Hamming candidate depths


@register(
    "sim_binary_cand_depth_tuning",
    tags=("llm", "similarity", "ann", "quantization", "tuning", "eval"),
    oracle=f"""
WITH {_SQL_BQ_QC},
hamm AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY bit_count(xor(qw1, cw1)) + bit_count(xor(qw2, cw2)),
                    neighbor_id) AS h_rnk
  FROM q, c WHERE query_id != neighbor_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(list_dot_product(qn, cn), 6) DESC,
                      c.neighbor_id) AS rnk
    FROM q, c WHERE q.query_id != c.neighbor_id
  ) WHERE rnk <= {_BR_K}
),
tranks AS (
  SELECT t.query_id, h.h_rnk
  FROM truth t JOIN hamm h
    ON h.query_id = t.query_id AND h.neighbor_id = t.neighbor_id
),
pts AS (SELECT unnest([{', '.join(str(p) for p in _BD_SWEEP)}]) AS cand_depth)
SELECT pts.cand_depth,
       ROUND(CAST(COUNT(tr.h_rnk) AS DOUBLE)
             / {_BR_K * _BQ_NQ}, 6) AS recall_at{_BR_K}
FROM pts LEFT JOIN tranks tr ON tr.h_rnk <= pts.cand_depth
GROUP BY pts.cand_depth
ORDER BY pts.cand_depth
""",
)
def sim_binary_cand_depth_tuning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CANDIDATE-DEPTH tuning curve for the two-stage binary retrieval
    — the third leg of the tuning-curve family (MinHash band S-curve →
    ``dedup_minhash_band_tuning``; IVF nprobe → ``sim_ivf_nprobe_tuning``):
    for each stage-1 Hamming depth in {sweep}, recall@{k} of
    ``sim_topk_binary_rerank`` against the exact brute-force truth —
    the number an operator reads to size the candidate cut.

    Costs ONE Hamming ranking + ONE brute-force truth pass, not one
    two-stage search per sweep point, via the same rank identity the
    nprobe curve uses: candidate sets are NESTED in the depth and the
    final re-rank shares the truth's total order (round(cosine, 6)
    desc, id tiebreak), so a truth item at global rank r ≤ {k} is in
    the final top-{k} at depth c IFF its Hamming rank ≤ c — everything
    cosine-above it is itself truth and cannot displace it.  UNLIKE
    the IVF curve, everything here is SQL-expressible (XOR+popcount
    Hamming, fold dot products), so the whole curve is ORACLE-EXACT.

    Scale shape: the Hamming ranking is the bit-word-only integer join
    of ``sim_topk_binary_rerank`` stage 1 (no vectors); the truth pass
    is the bounded-|Q| broadcast brute-force scan every recall eval
    pays; the curve itself aggregates the {k}·{nq}-row truth-rank list
    against a {npts}-point literal."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    norm = F.sqrt(
        F.aggregate(
            v,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    vecs = e.select(
        "vec_id",
        F.transform(v, lambda x: x.cast("double") / norm).alias("vn"),
    )
    bits = e.select(
        "vec_id",
        _half_bits(v, 0).alias("w1"),
        _half_bits(v, 32).alias("w2"),
    )
    q = bits.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    c = bits.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("w1").alias("cw1"),
        F.col("w2").alias("cw2"),
    )
    w_h = Window.partitionBy("query_id").orderBy(
        (
            F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
            + F.bit_count(F.col("qw2").bitwiseXOR(F.col("cw2")))
        ),
        "neighbor_id",
    )
    hamm = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("h_rnk", F.row_number().over(w_h))
        .select("query_id", "neighbor_id", "h_rnk")
    )
    qv = vecs.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qn")
    )
    cv = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vn").alias("cn")
    )
    w_t = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    truth = (
        cv.join(F.broadcast(qv), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("qn"), F.col("cn"), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w_t))
        .filter(F.col("rnk") <= _BR_K)
        .select("query_id", "neighbor_id")
    )
    tranks = truth.join(hamm, ["query_id", "neighbor_id"]).select(
        "query_id", "h_rnk"
    )
    pts = literal_df(
        spark, [(p,) for p in _BD_SWEEP], "cand_depth int"
    )
    return (
        pts.join(tranks, F.col("h_rnk") <= F.col("cand_depth"), "left")
        .groupBy("cand_depth")
        .agg(
            F.round(
                F.count(F.col("h_rnk")).cast("double") / (_BR_K * _BQ_NQ),
                6,
            ).alias(f"recall_at{_BR_K}")
        )
        .orderBy("cand_depth")
    )


sim_binary_cand_depth_tuning.__doc__ = (
    sim_binary_cand_depth_tuning.__doc__.format(
        sweep=_BD_SWEEP, k=_BR_K, nq=_BQ_NQ, npts=len(_BD_SWEEP)
    )
)
