"""Sparse retrieval depth: BM25 top-k — the production lexical scorer.

The retrieval family already covers TF-IDF (``sql_api.py``), sparse
shingle-cosine (``chunking.py``), dense ANN (``operators/similarity``),
and RRF hybrid fusion (``stat_models2.py``); this adds the scorer that
actually ranks results in Lucene/Elasticsearch — Okapi BM25 with the
Lucene idf formulation ln(1 + (N − df + 0.5)/(df + 0.5)), k1 = 1.2,
b = 0.75.

Cross-engine exactness: per-row LN on identical double inputs is
bit-stable across engines (proven by ``text_tfidf_topterms``); each
per-(doc, term) score is ONE identically-ordered double expression,
then quantized to integer NANO-units before the per-doc sum so the
aggregation is order-independent (the ``plans/exact.py`` stance applied
to a 3-term sum); the final top-k cut orders by the integer score with
a doc_id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.tables import load_table
from .llm_text import _SQL_TOKENS
from .registry import register


# mid-frequency corpus terms — fixed probe query, identical literals in
# both engines
_QUERY_TERMS = ("spark", "window", "merge")
_K1, _B = 1.2, 0.75


# the BM25 inputs (doc lengths, corpus scalars, probe-term tf and df) and
# the exact per-(doc, term) impact in nano-units, ending in
# ``scored(doc_id, score_nano)``
_SQL_BM25_SCORED = f"""dlen AS (
  SELECT doc_id, len({_SQL_TOKENS}) AS dl FROM documents
),
scal AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dlen
),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('spark', 'window', 'merge')
  GROUP BY doc_id, term
),
dfs AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           LN(1.0e0 + (scal.n_docs - dfs.df + 0.5e0) / (dfs.df + 0.5e0))
           * (CAST(tf.tf AS DOUBLE) * 2.2e0)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2e0 * (0.25e0 + 0.75e0 * (dlen.dl / scal.avgdl)))
           * 1000000000, 0) AS BIGINT) AS score_nano
  FROM tf
  JOIN dlen ON tf.doc_id = dlen.doc_id
  JOIN dfs ON tf.term = dfs.term
  CROSS JOIN scal
)"""

_BM25_ORACLE = f"""
WITH {_SQL_BM25_SCORED}
SELECT doc_id,
       COUNT(*) AS n_terms_matched,
       ROUND(CAST(SUM(score_nano) AS DOUBLE) / 1000000000, 6) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY SUM(score_nano) DESC, doc_id
LIMIT 20
"""


def _bm25_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(tf, dlen, dfs, scal): probe-term frequencies per (doc, term),
    document lengths, probe-term document frequencies and the one-row
    (n_docs, avgdl) corpus scalars.  Tokens are filtered to the probe
    terms BEFORE the (doc, term) shuffle, so tf is hit-sized."""
    docs = load_table(spark, sf_dir, "documents")
    dlen = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("dl"))
    scal = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf, dlen, dfs, scal


def _bm25_impact(norm: F.Column) -> F.Column:
    """Per-(doc, term) BM25 impact idf·tf(k1+1)/(tf + k1·norm) over the
    tf, df and n_docs columns, for the length normalizer ``norm``."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    return idf * (tf_d * F.lit(_K1 + 1.0)) / (tf_d + F.lit(_K1) * norm)


def _bm25_scored(
    tf: DataFrame, dlen: DataFrame, dfs: DataFrame, scal: DataFrame
) -> DataFrame:
    """(doc_id, score_nano): the exact per-(doc, term) BM25 impact of
    each tf row, quantized to integer nano-units."""
    exact = _bm25_impact(
        F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(dlen, "doc_id")
        .join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(exact * 1000000000, 0).cast("bigint").alias("score_nano"),
        )
    )


def _bm25_top20(scored: DataFrame) -> DataFrame:
    """(doc_id, n_terms_matched, bm25): the 20 best per-doc nano-score
    sums, doc_id tiebreak (a TakeOrderedAndProject, no global sort)."""
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("score_nano").alias("nano"),
        )
        .orderBy(F.desc("nano"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "n_terms_matched",
            F.round(F.col("nano").cast("double") / 1000000000, 6).alias(
                "bm25"
            ),
        )
    )


@register(
    "text_bm25_topk",
    tags=("llm", "text", "retrieval", "bm25"),
    oracle=_BM25_ORACLE,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OKAPI BM25 top-20 for a fixed 3-term query — the
    Lucene/Elasticsearch lexical ranking function (idf·tf saturation
    with k1 = 1.2 and length normalization b = 0.75 against the corpus
    average document length).

    Scale shape: tokens are filtered to the 3 query terms BEFORE the
    (doc, term) shuffle, so the tf table is hit-sized, not corpus-sized;
    df (3 rows) and the (N, avgdl) scalar broadcast; the per-doc length
    table is the only corpus-grain join side and it is map-only derived
    from the scan; top-k is a TakeOrderedAndProject on the integer
    nano-score with doc_id tiebreak — no global sort materializes."""
    return _bm25_top20(_bm25_scored(*_bm25_inputs(spark, sf_dir)))


@register(
    "text_bm25_topk_maxscore",
    tags=("llm", "text", "retrieval", "bm25", "maxscore"),
    oracle=_BM25_ORACLE,  # EXACT w.r.t. top-k: same oracle as the
    # unpruned text_bm25_topk — the pruning is result-invariant by the
    # upper-bound argument in the docstring, and the driver verifies it
    # against the full-scan SQL mirror
)
def text_bm25_topk_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 with MAXSCORE/WAND-style upper-bound pruning — the
    scale step past ``text_bm25_topk``'s score-everything shape
    (VERDICT r5 action #6), EXACT w.r.t. the top-k.

    Per-term upper bound needs NO document length: BM25's length
    normalization is monotone decreasing in dl, so
    ``ub(t, d) = idf_t · tf(k1+1) / (tf + k1(1−b))`` (dl → 0) bounds
    the true impact from the tf table alone.  Quantization keeps the
    bound valid (round is monotone: true ≤ ub ⟹ round(true) ≤
    round(ub)).

    Two-phase plan:
    1. SEED: documents matching ≥ 2 of the 3 query terms are scored
       exactly (tiny set — the conjunctive-ish candidates every WAND
       implementation scores first); θ = their 20th-best total
       (TakeOrderedAndProject(20) + one-row min, broadcast back).
       Fewer than 20 seeds ⟹ θ = NULL ⟹ no pruning (still exact).
    2. PRUNE + SCORE: documents whose summed upper bound is STRICTLY
       below θ cannot enter the top-20 (their true score ≤ ub < θ ≤
       20 better docs' scores — even the doc_id tiebreak cannot save
       them); survivors take the full dlen-join scoring path of the
       unpruned query.

    Scale win: the corpus-grain dlen join and per-pair double math run
    only on the survivor set; the bound itself is map-side arithmetic
    on the hit-sized tf table.  The candidate-reduction ratio is
    measured (tests/test_retrieval_pruning.py + PERF.md), not claimed.
    """
    tf, dlen, dfs, scal = _bm25_inputs(spark, sf_dir)
    # dl-free upper bound (dl → 0 in the normalizer)
    ub_score = _bm25_impact(F.lit(1.0 - _B))
    bounded = (
        tf.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(ub_score * 1000000000, 0)
            .cast("bigint")
            .alias("ub_nano"),
        )
    )
    per_doc = bounded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("ub_nano").alias("ub_total"),
    )
    # phase 1: exact scores for the multi-term seed set
    seed_ids = per_doc.filter(F.col("n_terms_matched") >= 2).select(
        "doc_id"
    )
    # seed size is data-dependent (docs matching ≥2 terms), so no
    # forced broadcast — the optimizer picks; at 100 TB this is the
    # same hit-sized equi-join family as the tf table itself
    seed_scored = (
        _bm25_scored(tf.join(seed_ids, "doc_id"), dlen, dfs, scal)
        .groupBy("doc_id")
        .agg(F.sum("score_nano").alias("nano"))
    )
    theta = (
        seed_scored.orderBy(F.desc("nano"), "doc_id")
        .limit(20)
        .agg(
            F.when(F.count(F.lit(1)) >= 20, F.min("nano")).alias("theta")
        )
    )
    survivors = (
        per_doc.crossJoin(F.broadcast(theta))
        .filter(
            F.col("theta").isNull() | (F.col("ub_total") >= F.col("theta"))
        )
        .select("doc_id")
    )
    # phase 2: the unpruned scoring path, survivors only
    return _bm25_top20(
        _bm25_scored(tf.join(survivors, "doc_id"), dlen, dfs, scal)
    )


_NDCG_GAIN_SQL = (
    "CAST(ROUND((POWER(2.0e0, rel) - 1.0e0) * LN(2.0e0) / LN(rnk + 1.0e0)"
    " * 1000000000, 0) AS BIGINT)"
)


@register(
    "eval_ranking_ndcg",
    tags=("llm", "retrieval", "eval", "ndcg"),
    oracle=f"""
WITH {_SQL_BM25_SCORED},
per_doc AS (
  SELECT doc_id, COUNT(*) AS rel, SUM(score_nano) AS nano
  FROM scored GROUP BY doc_id
),
top10 AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY nano DESC, doc_id) AS rnk
  FROM per_doc ORDER BY nano DESC, doc_id LIMIT 10
),
dcg AS (
  SELECT SUM({_NDCG_GAIN_SQL}) AS dcg_nano,
         MIN(CASE WHEN rel = 3 THEN rnk END) AS first_full,
         SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS n_rel2
  FROM top10
),
ideal AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rnk
  FROM per_doc ORDER BY rel DESC, doc_id LIMIT 10
),
idcg AS (
  SELECT SUM({_NDCG_GAIN_SQL}) AS idcg_nano FROM ideal
),
tot AS (SELECT COUNT(*) AS n_rel_corpus FROM per_doc)
SELECT ROUND(CAST(dcg.dcg_nano AS DOUBLE) / idcg.idcg_nano, 6) AS ndcg_at_10,
       ROUND(COALESCE(1.0e0 / dcg.first_full, 0.0e0), 6) AS mrr_at_10,
       ROUND(dcg.n_rel2 / 10.0e0, 6) AS precision_at_10,
       CAST(tot.n_rel_corpus AS BIGINT) AS n_rel_corpus
FROM dcg, idcg, tot
""",
)
def eval_ranking_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval suite — NDCG@10 / MRR@10 / P@10 for the
    BM25 ranking against a deterministic graded-relevance label
    (rel = number of the 3 probe terms a document contains, 0..3;
    "fully relevant" for MRR = all three, "relevant" for P@10 = at
    least two).  The standard IR eval triple (TREC / BEIR readouts)
    over the production lexical scorer — what a retrieval regression
    gate runs per release.

    Cross-engine exactness: each rank's gain (2^rel − 1)·ln2/ln(rank+1)
    is ONE identically-ordered double expression on integer inputs,
    quantized to nano before the sum (the ``plans/exact.py`` stance);
    NDCG is the ratio of the two bigint sums rounded to 6.

    Scale shape: the per-doc (rel, nano) table is hit-sized (docs
    matching ≥1 probe term — the BM25 tf path, corpus-grain shuffle on
    doc_id); BOTH rankings cut to 10 rows via TakeOrderedAndProject
    (≤ 10 rows per task cross the final exchange) before any window
    touches them, so the window sort and the one-row report aggs run
    on bounded frames at ANY corpus size."""
    from pyspark.sql import Window

    per_doc = (
        _bm25_scored(*_bm25_inputs(spark, sf_dir))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("rel"), F.sum("score_nano").alias("nano"))
        # hit-sized (docs matching ≥1 probe term) and consumed by THREE
        # branches (ranked cut, ideal cut, corpus total) — materialize
        # once so the tokenize+tf scan doesn't run per branch
        .localCheckpoint(eager=True)
    )

    def gain(rnk):
        return (
            F.round(
                (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
                * F.log(F.lit(2.0))
                / F.log(rnk + F.lit(1.0))
                * 1000000000,
                0,
            )
        ).cast("bigint")

    top10 = (
        per_doc.orderBy(F.desc("nano"), "doc_id")
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("nano"), "doc_id")),
        )
    )
    dcg = top10.agg(
        F.sum(gain(F.col("rnk").cast("double"))).alias("dcg_nano"),
        F.min(F.when(F.col("rel") == 3, F.col("rnk"))).alias("first_full"),
        F.sum(F.when(F.col("rel") >= 2, 1).otherwise(0)).alias("n_rel2"),
    )
    ideal = (
        per_doc.orderBy(F.desc("rel"), "doc_id")
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id")),
        )
    )
    idcg = ideal.agg(F.sum(gain(F.col("rnk").cast("double"))).alias("idcg_nano"))
    tot = per_doc.agg(F.count(F.lit(1)).alias("n_rel_corpus"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("dcg_nano").cast("double") / F.col("idcg_nano"), 6
            ).alias("ndcg_at_10"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("first_full").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("mrr_at_10"),
            F.round(F.col("n_rel2") / F.lit(10.0), 6).alias("precision_at_10"),
            F.col("n_rel_corpus").cast("bigint").alias("n_rel_corpus"),
        )
    )
