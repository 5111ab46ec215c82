"""Second LLM-pipeline batch over ``documents`` / ``embeddings``:
n-gram vocabulary ranking, benchmark-contamination detection, the
combined document quality gate, and per-label embedding centroids.

Same contract as ``llm_text.py``: every Spark expression has a DuckDB
oracle generated from the same constants, so results hash-compare
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    quality_score,
    shingles,
    token_count,
)
from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .llm_text import _SQL_TOKENS
from .registry import register


def _sql_shingle_cte(k: int, extra_cols: str = "") -> str:
    """doc_id[, extra] + exploded distinct word-k-gram ``shingle``
    (mirror of ``functions.text.shingles``, parameterized k)."""
    concat = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
toks AS (SELECT doc_id{extra_cols}, {_SQL_TOKENS} AS t FROM documents),
sh AS (
  SELECT doc_id{extra_cols}, unnest(
    CASE WHEN len(t) >= {k} THEN list_distinct(
           list_transform(generate_series(1, len(t) - {k - 1}), i -> {concat}))
         ELSE [array_to_string(t, ' ')] END) AS shingle
  FROM toks
)
"""


@register(
    "text_ngram_topk",
    tags=("llm", "text", "ngram", "topk"),
    oracle=f"""
WITH {_sql_shingle_cte(2, ", lang")},
counts AS (
  SELECT lang, shingle AS bigram, COUNT(*) AS n_docs
  FROM sh GROUP BY lang, shingle
),
ranked AS (
  SELECT lang, bigram, n_docs,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_docs DESC, bigram) AS rnk
  FROM counts
)
SELECT lang, bigram, n_docs, rnk FROM ranked WHERE rnk <= 10
ORDER BY lang, rnk
""",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 bigrams per language by document frequency — the n-gram
    vocabulary job behind LM smoothing tables and contamination
    blocklists.  Explode → count → per-group rank: counts partial-
    aggregate map-side, and the rank window's partition is the grouping
    key prefix so the count shuffle is reused."""
    d = load_table(spark, sf_dir, "documents")
    exploded = d.select(
        "lang", F.explode(shingles(F.col("text"), 2)).alias("bigram")
    )
    counts = exploded.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs"), "bigram")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .orderBy("lang", "rnk")
    )


@register(
    "text_contamination_overlap",
    tags=("llm", "text", "contamination", "join"),
    oracle=f"""
WITH {_sql_shingle_cte(3)},
bench  AS (SELECT doc_id AS bench_id,  shingle FROM sh WHERE doc_id < 20),
corpus AS (SELECT doc_id AS corpus_id, shingle FROM sh WHERE doc_id >= 20)
SELECT bench_id, corpus_id, COUNT(*) AS n_shared
FROM bench JOIN corpus USING (shingle)
GROUP BY bench_id, corpus_id
HAVING COUNT(*) >= 3
ORDER BY bench_id, corpus_id
""",
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: training docs sharing ≥ 3
    distinct word-3-grams with any benchmark doc (here: doc_id < 20 as
    the held-out set).  The benchmark shingle table is bounded (eval
    sets are small by construction) so it broadcasts; the corpus side
    streams through map-side — the shape that audits a 100 TB corpus
    against a benchmark suite in one scan."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingles(F.col("text"), 3)).alias("shingle"))
    bench = sh.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    corpus = sh.filter(F.col("doc_id") >= 20).select(
        F.col("doc_id").alias("corpus_id"), "shingle"
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("bench_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .orderBy("bench_id", "corpus_id")
    )


# quality-gate thresholds (shared between engines via this module)
_MIN_TOKENS, _MAX_TOKENS, _MIN_QUALITY = 5, 1000, 0.3

_SQL_NTOK = f"len({_SQL_TOKENS})"
_SQL_PUNCT = (
    r"((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE"
    r" / length(text))"
)


def _sql_quality() -> str:
    from .llm_text import _sql_stop_hits

    return (
        f"(LEAST(1.0, {_SQL_NTOK} / 100.0) * 0.4"
        f" + LEAST(1.0, ({_sql_stop_hits('en')}::DOUBLE / {_SQL_NTOK}) * 5) * 0.3"
        f" + (1.0 - LEAST(1.0, {_SQL_PUNCT} * 10)) * 0.3)"
    )


def _sql_keep() -> str:
    from .llm_text import _sql_predicted_lang

    return (
        f"(({_sql_predicted_lang()}) = lang"
        f" AND {_SQL_NTOK} BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}"
        f" AND {_sql_quality()} >= {_MIN_QUALITY})"
    )


@register(
    "docs_quality_gate",
    tags=("llm", "text", "quality", "filter"),
    oracle=f"""
SELECT lang,
       {_sql_keep()} AS keep,
       COUNT(*) AS n_docs,
       ROUND({sql_dsum(f'ROUND({_sql_quality()}, 6)')} / COUNT(*), 6) AS avg_quality
FROM documents
GROUP BY lang, keep
ORDER BY lang, keep
""",
)
def docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined keep/drop decision every corpus-cleaning pipeline
    applies before training: language-ID agreement + token-count range
    + quality-score floor, aggregated per (lang, keep).  One map-side
    expression per document, one grouped agg — no shuffle beyond the
    group keys."""
    from ..functions.text import with_predicted_lang

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # r10: language scores AND the quality score bound once per row
    # (with_predicted_lang + a _q alias) — the keep predicate and the
    # rounded report column previously re-evaluated the regex-heavy
    # quality_score tree
    keep = (
        (F.col("_plang") == F.col("lang"))
        & token_count(t).between(_MIN_TOKENS, _MAX_TOKENS)
        & (F.col("_q") >= _MIN_QUALITY)
    )
    return (
        with_predicted_lang(d.select("lang", "text"), "text", "_plang")
        .withColumn("_q", quality_score(t))
        .select("lang", keep.alias("keep"), F.round(F.col("_q"), 6).alias("q"))
        .groupBy("lang", "keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(dsum("q") / F.count(F.lit(1)), 6).alias("avg_quality"),
        )
        .orderBy("lang", "keep")
    )


@register(
    "emb_centroids_by_label",
    tags=("llm", "embedding", "centroid"),
    oracle="""
WITH flat AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1))::INT AS pos,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
)
SELECT label, pos,
       COUNT(*) AS n_vecs,
       CAST(FLOOR(CAST(SUM(CAST(FLOOR(v * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / COUNT(*)) AS BIGINT) / 1000000.0 AS centroid
FROM flat
GROUP BY label, pos
ORDER BY label, pos
""",
)
def emb_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long (label, pos, value) form —
    class prototypes for nearest-centroid search / drift monitoring.
    ``posexplode`` turns the elementwise mean into an ordinary grouped
    aggregation: partial aggregation map-side, shuffle volume
    ∝ labels × dim (bounded), never ∝ vectors.  Long form keeps the
    result oracle-comparable; reassembling ``array`` centroids is a
    ``collect_list`` over pos when a consumer wants one.

    Cross-engine exactness: raw float values are NOT 6-decimal-exact,
    so the decimal-cast ``dsum`` trick diverges on them (Spark's
    shortest-string vs DuckDB's exact-binary double→decimal rounding —
    the sf0.1 sweep caught exactly this).  Instead the values are
    quantized to int64 micro-units with ``floor(v·1e6)`` — a pure
    double product + floor, bit-identical on both engines — and summed
    exactly in integer space: order-independent AND
    representation-independent.  The mean stays in integer micro-units
    (``floor(sum/n)``) and the final ÷1e6 is exact, so NO rounding
    function ever runs — there is no half-way boundary left to
    disagree on (ROUND itself diverged on 2 of 640 cells at sf0.01)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("v").cast("double") * 1_000_000.0).cast("long")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.floor(
                    F.sum("q").cast("double") / F.count(F.lit(1))
                ).cast("long")
                / 1_000_000.0
            ).alias("centroid"),
        )
        .orderBy("label", "pos")
    )
