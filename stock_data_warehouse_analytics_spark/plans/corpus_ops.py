"""Corpus-curation batch: containment dedup, temperature mixing,
Heaps-law vocabulary growth, and int8 embedding quantization — the
remaining pieces of a production training-data pipeline (dedup and
sampling families are in ``llm_dedup`` / ``llm_sampling``).

Scale notes per query; the shared stance: inverted-index joins instead
of all-pairs, bounded broadcast rate/cut tables, array-kernel vector
math (no UDFs), exact-decimal aggregation only where the oracle gate
demands bit equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import shingle_table
from ..sources.tables import load_table
from .exact import davg, dsum, sql_davg, sql_dsum
from .llm_dedup import _SQL_SHINGLES, _SQL_TOKENS
from .llm_sampling import _sql_mix_selected, corpus_tag, mix_selected
from .registry import register


# Containment threshold 0.8 as an integer cross-multiply (5c >= 4n) —
# no float comparison on the keep/drop boundary.
_CONT_NUM, _CONT_DEN = 4, 5


@register(
    "text_dedup_containment",
    tags=("llm", "dedup", "containment"),
    oracle=f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, c AS n_common, sa.n AS size_a, sb.n AS size_b,
       ROUND(CAST(c AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_CONT_DEN} * c >= {_CONT_NUM} * LEAST(sa.n, sb.n)
ORDER BY doc_a, doc_b
""",
)
def text_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT dedup (|A∩B| / min(|A|,|B|) ≥
    0.8) — catches the near-superset pairs Jaccard misses: a short doc
    embedded verbatim in a longer one has low Jaccard (union is big)
    but containment ≈ 1.  Same inverted-index shingle join as
    dedup_ngram_jaccard (candidates only where a shingle collides —
    never all-pairs — and the df-capped shingle table bounds the hot
    bucket, see operators.dedup.shingle_table), with
    the keep/drop boundary as an integer cross-multiply so no float
    threshold decides membership."""
    from .dedup_store import staged_shingles

    sh = staged_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("size_b"))
    min_n = F.least(F.col("size_a"), F.col("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(_CONT_DEN * F.col("n_common") >= _CONT_NUM * min_n)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            F.round(F.col("n_common").cast("double") / min_n, 6).alias(
                "containment"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# DuckDB mirror of operators.dedup.hash_int60 on an arbitrary expression
_SQL_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

_TEMP_BUDGET = 0.5  # sample half the corpus overall


@register(
    "mix_sqrt_temperature",
    tags=("llm", "sampling", "mixing", "temperature"),
    oracle=f"""
WITH tagged AS (
  SELECT doc_id, text,
         CASE ({_SQL_H60.format(x='source')} % 3)
           WHEN 0 THEN 'web' WHEN 1 THEN 'books' ELSE 'code' END AS corpus
  FROM documents
),
sizes AS (SELECT corpus, COUNT(*) AS n_avail FROM tagged GROUP BY corpus),
tot AS (
  SELECT CAST(SUM(n_avail) AS BIGINT) AS n_total,
         {sql_dsum('ROUND(SQRT(n_avail), 6)')} AS denom
  FROM sizes
),
rates AS (
  SELECT corpus, n_avail,
         LEAST(1.0, (ROUND(SQRT(n_avail), 6) / denom)
                    * n_total * {_TEMP_BUDGET!r} / n_avail) AS accept_rate
  FROM sizes CROSS JOIN tot
)
{_sql_mix_selected(_SQL_H60.format(x="doc_id::VARCHAR || ':' || t.text"))}""",
)
def mix_sqrt_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (T=2 ⇒ weights ∝ n^(1/2)) — the
    multilingual-training trick that upsamples small corpora relative
    to proportional sampling without letting big ones dominate.  T=2
    deliberately: the weight transform is then SQRT, which IEEE
    requires correctly rounded — bit-identical cross-engine — where a
    general pow(n, 1/T) would drift between libm implementations.
    Same deterministic hash-membership selection as
    mix_weighted_corpora: rate table bounded by corpus count,
    broadcast, map-side accept — one scan + one tiny agg at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.withColumn("corpus", corpus_tag())
    sizes = tagged.groupBy("corpus").agg(F.count(F.lit(1)).alias("n_avail"))
    tot = sizes.agg(
        F.sum("n_avail").alias("n_total"),
        dsum(F.round(F.sqrt("n_avail"), 6)).alias("denom"),
    )
    rates = sizes.crossJoin(F.broadcast(tot)).select(
        "corpus",
        "n_avail",
        F.least(
            F.lit(1.0),
            (F.round(F.sqrt("n_avail"), 6) / F.col("denom"))
            * F.col("n_total")
            * _TEMP_BUDGET
            / F.col("n_avail"),
        ).alias("accept_rate"),
    )
    return mix_selected(tagged, rates)


_VOCAB_POINTS = 16  # fixed number of growth-curve samples


@register(
    "docs_vocab_growth",
    tags=("llm", "text", "vocab", "cumsum"),
    oracle=f"""
WITH b AS (
  SELECT CAST(CEIL((MAX(doc_id) + 1) / {_VOCAB_POINTS}.0) AS BIGINT) AS width
  FROM documents
),
toks AS (SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS term
         FROM documents),
firsts AS (
  SELECT term,
         CAST(FLOOR(MIN(doc_id) / (SELECT width FROM b)) AS BIGINT) AS bucket
  FROM toks GROUP BY term
),
new_terms AS (SELECT bucket, COUNT(*) AS n_new FROM firsts GROUP BY bucket),
docs AS (
  SELECT CAST(FLOOR(doc_id / (SELECT width FROM b)) AS BIGINT) AS bucket,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT d.bucket,
       CAST(SUM(d.n_docs) OVER (ORDER BY d.bucket) AS BIGINT) AS cum_docs,
       CAST(SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY d.bucket) AS BIGINT)
         AS cum_vocab
FROM docs d LEFT JOIN new_terms nt USING (bucket)
ORDER BY d.bucket
""",
)
def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct terms seen after each
    id-ordered corpus prefix — the diagnostic that tells you whether
    more data still buys new vocabulary.  The curve has a FIXED number
    of sample points ({_VOCAB_POINTS}; width derived from max doc_id),
    so the cumulative window runs over a constant-size histogram at any
    corpus size — never over raw tokens.  'First seen' = MIN(doc_id)
    per term: one shuffle on term, the cumulative-distinct trick that
    needs no ordered scan."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    width = d.agg(
        F.ceil((F.max("doc_id") + 1) / float(_VOCAB_POINTS)).cast("long").alias("width")
    )
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    ).crossJoin(F.broadcast(width))
    firsts = toks.groupBy("term").agg(
        F.floor(F.min("doc_id") / F.max("width")).cast("long").alias("bucket")
    )
    new_terms = firsts.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_new"))
    docs = (
        d.crossJoin(F.broadcast(width))
        .groupBy(F.floor(F.col("doc_id") / F.col("width")).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy("bucket").rangeBetween(Window.unboundedPreceding, 0)
    return (
        docs.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_docs").over(w).alias("cum_docs"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


@register(
    "emb_quantize_int8",
    tags=("llm", "embedding", "quantization"),
    oracle=f"""
WITH q AS (
  SELECT label,
         list_max(list_transform(v, x -> abs(x))) AS scale,
         list_reduce(
           list_transform(
             list_transform(v, x -> x - (FLOOR(x * 127.0e0 / list_max(list_transform(v, y -> abs(y))) + 0.5e0)
                                         * list_max(list_transform(v, y -> abs(y))) / 127.0e0)),
             e -> e * e),
           (a, b) -> a + b) AS sse
  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
  WHERE list_max(list_transform(v, x -> abs(x))) > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       {sql_davg('scale')} AS avg_scale,
       CAST(CAST(SUM(CAST(sse / 64 AS DECIMAL(30,18))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS avg_mse
FROM q
GROUP BY label
ORDER BY label
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus (per-vector
    absmax scale, round-half-up via FLOOR(x+0.5)) and its
    reconstruction error — the storage/serving trade every vector index
    makes (4 bytes → 1 byte per dim).  All vector math is array-kernel
    expressions (transform / zip_with / left-fold aggregate — no UDF,
    no explode); per-label MSE aggregates through a scale-18 decimal
    (values ~1e-5 — scale 6 would truncate them to noise) with the
    string-route double conversion.  Map-only + one bounded group-agg:
    embarrassingly parallel at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    dq = F.transform(
        F.col("v"),
        lambda x: F.floor(x * F.lit(127.0) / F.col("scale") + F.lit(0.5))
        * F.col("scale")
        / F.lit(127.0),
    )
    err = F.zip_with(F.col("v"), F.col("dq"), lambda x, d: (x - d) * (x - d))
    sse = F.aggregate(F.col("err"), F.lit(0.0), lambda a, b: a + b)
    q = (
        e.select("label", v.alias("v"), scale.alias("scale"))
        .filter(F.col("scale") > 0)
        .withColumn("dq", dq)
        .withColumn("err", err)
        .withColumn("sse", sse)
    )
    mse_sum = (
        F.sum((F.col("sse") / 64).cast("decimal(30,18)"))
        .cast("string")
        .cast("double")
    )
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            davg("scale").alias("avg_scale"),
            (mse_sum / F.count(F.lit(1))).alias("avg_mse"),
        )
        .orderBy("label")
    )


@register(
    "mix_dsir_selection",
    tags=("llm", "mixing", "selection", "dsir"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, lang, term, COUNT(*) AS tf FROM tok
  GROUP BY doc_id, lang, term
),
vocab AS (
  SELECT term,
         SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS cnt_t,
         SUM(CASE WHEN lang <> 'en' THEN tf ELSE 0 END) AS cnt_s
  FROM tf GROUP BY term
),
scal AS (
  SELECT CAST(SUM(cnt_t) AS DOUBLE) AS tt,
         CAST(SUM(cnt_s) AS DOUBLE) AS ts,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM vocab
),
contrib AS (
  SELECT tf.doc_id, tf.lang,
         tf.tf,
         CAST(ROUND(CAST(tf.tf AS DOUBLE)
           * (LN((vocab.cnt_t + 0.5e0) / (scal.tt + 0.5e0 * scal.v))
              - LN((vocab.cnt_s + 0.5e0) / (scal.ts + 0.5e0 * scal.v)))
           * 1000000000, 0) AS BIGINT) AS nano
  FROM tf JOIN vocab ON tf.term = vocab.term CROSS JOIN scal
  WHERE tf.lang <> 'en'
),
per_doc AS (
  SELECT doc_id, lang, SUM(tf) AS n_tokens, SUM(nano) AS llr_nano
  FROM contrib GROUP BY doc_id, lang
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(llr_nano AS DOUBLE) / 1000000000, 6) AS dsir_llr
FROM per_doc
ORDER BY llr_nano DESC, doc_id
LIMIT 20
""",
)
def mix_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): rank out-of-domain
    documents by the log importance weight log p_target(x) −
    log p_source(x) under add-half-smoothed unigram LMs, where the
    target domain is the ``lang = 'en'`` slice and the source is the
    rest.  Top-20 source docs by LLR = the docs a curriculum would
    pull into the target mix first.

    Cross-engine exactness: each (doc, term) contribution tf·(ln a −
    ln b) is ONE identically-ordered double expression on exact
    integer-derived inputs, quantized to nano before the per-doc sum
    (the ``plans/exact.py`` stance); ranking is on the BIGINT sum with
    a doc_id tiebreak.

    Scale shape: tokenize → (doc, term) tf [hash shuffle on the
    compound key] → term-grain vocab census [term shuffle, partial agg
    map-side] → tf ⋈ vocab on term (both term-partitioned; Spark picks
    sort-merge at corpus scale, the vocab side is Heaps-sublinear) →
    one-row (T_t, T_s, V) scalar broadcast [bounded: partial-agg
    upstream, O(#tasks) rows cross the final exchange] → per-doc sum
    [doc shuffle] → top-20 TakeOrderedAndProject.  No windows, no
    Python, no corpus-sized single partition."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    vocab = tf.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("tf")).otherwise(0)).alias(
            "cnt_t"
        ),
        F.sum(F.when(F.col("lang") != "en", F.col("tf")).otherwise(0)).alias(
            "cnt_s"
        ),
    )
    scal = vocab.agg(
        F.sum("cnt_t").cast("double").alias("tt"),
        F.sum("cnt_s").cast("double").alias("ts"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    llr = (
        F.col("tf").cast("double")
        * (
            F.log(
                (F.col("cnt_t") + F.lit(0.5))
                / (F.col("tt") + F.lit(0.5) * F.col("v"))
            )
            - F.log(
                (F.col("cnt_s") + F.lit(0.5))
                / (F.col("ts") + F.lit(0.5) * F.col("v"))
            )
        )
    )
    contrib = (
        tf.filter(F.col("lang") != "en")
        .join(vocab, "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            "lang",
            "tf",
            F.round(llr * 1000000000, 0).cast("bigint").alias("nano"),
        )
    )
    return (
        contrib.groupBy("doc_id", "lang")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum("nano").alias("llr_nano"),
        )
        .orderBy(F.desc("llr_nano"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.col("llr_nano").cast("double") / 1000000000, 6).alias(
                "dsir_llr"
            ),
        )
    )
