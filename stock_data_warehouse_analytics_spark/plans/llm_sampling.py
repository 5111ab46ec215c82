"""Deterministic sampling / splitting over ``documents`` — the
training-data-pipeline staples the reference never needed at 2,585 rows
but any 100 TB corpus job starts with.

Seeded RNG sampling (``df.sample``) is engine-specific, so these use
content-hash bucketing instead: a row is in the sample iff
``hash_int60(key) % D < k``.  That makes the selection (a) exactly
reproducible on any engine that can compute md5 — the DuckDB oracles
mirror it bit-for-bit — and (b) stable under re-runs, repartitioning,
and incremental arrival of new data (a row's fate never depends on what
other rows exist — the property that matters when the corpus grows
between pipeline runs).  All map-side expressions: no shuffle except
the final small aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import hash_int60
from ..sources.tables import load_table
from .registry import register

# DuckDB mirror of operators.dedup.hash_int60
_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def corpus_tag() -> F.Column:
    """The notional corpus of a document: its source's int60 hash mod 3
    as 'web' / 'books' / 'code'."""
    h = hash_int60(F.col("source")) % 3
    return F.when(h == 0, "web").when(h == 1, "books").otherwise("code")


def _sql_mix_selected(keyhash: str) -> str:
    """Final SELECT of a hash-membership corpus mix over ``tagged t`` and
    ``rates r(corpus, n_avail, accept_rate)``: a row is selected when
    ``keyhash`` mod 10^6 falls below its corpus's accept rate."""
    return f"""SELECT t.corpus,
       r.n_avail,
       ROUND(r.accept_rate, 6) AS accept_rate,
       COUNT(*) FILTER (
         WHERE ({keyhash} % 1000000)
               < floor(r.accept_rate * 1000000)::BIGINT
       ) AS n_selected
FROM tagged t JOIN rates r USING (corpus)
GROUP BY t.corpus, r.n_avail, r.accept_rate
ORDER BY t.corpus
"""


def mix_selected(tagged: DataFrame, rates: DataFrame) -> DataFrame:
    """Spark mirror of :func:`_sql_mix_selected`: per corpus, n_avail,
    the 6-dp accept rate and the count of rows whose
    ``doc_id:text`` hash bucket falls below it (map-side accept against
    the broadcast rate table)."""
    keybucket = hash_int60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    ) % 1_000_000
    sel = F.count(
        F.when(
            # explicit floor on both engines: DuckDB's ::BIGINT cast
            # rounds to nearest, Spark's cast truncates
            keybucket < F.floor(F.col("accept_rate") * 1_000_000).cast("long"), 1
        )
    ).alias("n_selected")
    return (
        tagged.join(F.broadcast(rates), "corpus")
        .groupBy("corpus", "n_avail", F.round("accept_rate", 6).alias("accept_rate"))
        .agg(sel)
        .orderBy("corpus")
    )


@register(
    "sample_stratified_hash",
    tags=("llm", "sampling", "deterministic"),
    oracle=f"""
WITH hashed AS (
  SELECT source, lang, {_SQL_H60.format(x="doc_id::VARCHAR || ':' || text")} % 100 AS bucket
  FROM documents
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE bucket < 10) AS n_sampled
FROM hashed
GROUP BY source, lang
ORDER BY source, lang
""",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% stratified sample: membership decided by
    content hash mod 100, reported per (source, lang) stratum.  Unlike
    seeded ``df.sample`` this is reproducible across engines/partitions
    and stable as the corpus grows — the standard trick for carving
    eval sets out of a moving training corpus."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_int60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    ) % 100
    return (
        d.withColumn("bucket", bucket)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("bucket") < 10, 1)).alias("n_sampled"),
        )
        .orderBy("source", "lang")
    )


@register(
    "split_train_val_test",
    tags=("llm", "sampling", "split"),
    oracle=f"""
WITH hashed AS (
  SELECT source, {_SQL_H60.format(x="doc_id::VARCHAR || ':' || text")} % 100 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM hashed
GROUP BY source, split
ORDER BY source, split
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content hash,
    counted per source.  A document lands in the same split on every
    engine, every run, and after any upstream repartition — leakage-free
    by construction (membership is a pure function of the row)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_int60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


_SEQ_BUDGET = 2048  # tokens per packed training sequence


@register(
    "pack_training_sequences",
    tags=("llm", "packing", "window"),
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
),
offs AS (
  SELECT source, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM toks
),
binned AS (
  SELECT source, (start_off // {_SEQ_BUDGET}) AS seq_id, doc_id, n_tok
  FROM offs
)
SELECT source, seq_id,
       COUNT(*) AS n_docs,
       SUM(n_tok) AS n_tokens,
       MIN(doc_id) AS first_doc
FROM binned
GROUP BY source, seq_id
ORDER BY source, seq_id
""",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents (per
    source, in doc_id order) into fixed {budget}-token sequences — a doc
    belongs to the sequence where its starting offset lands (offset
    packing: deterministic, one window pass, no driver loop; boundary
    docs straddle and are truncated downstream).  The running-offset
    formulation is what scales — bin-packing heuristics that inspect
    bins sequentially don't distribute.  Exact integer window math,
    oracle-checked."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import token_count

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    offs = toks.withColumn(
        "start_off", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    # floor, not cast-truncate: DuckDB's `//` floors; offsets are
    # non-negative so floor == trunc, but keep the intent explicit
    binned = offs.withColumn(
        "seq_id", F.floor(F.col("start_off") / _SEQ_BUDGET).cast("long")
    )
    return (
        binned.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "seq_id")
    )


pack_training_sequences.__doc__ = pack_training_sequences.__doc__.format(
    budget=_SEQ_BUDGET
)


# target mixture over source groups: sources are binned by a stable
# predicate (hash of the source name) into three notional corpora
_MIX_WEIGHTS = {"web": 0.6, "books": 0.3, "code": 0.1}
_MIX_BUDGET = 0.5  # fraction of the total corpus the mixture may use


@register(
    "mix_weighted_corpora",
    tags=("llm", "sampling", "mixing"),
    oracle=f"""
WITH tagged AS (
  SELECT *,
         CASE WHEN {_SQL_H60.format(x="source")} % 3 = 0 THEN 'web'
              WHEN {_SQL_H60.format(x="source")} % 3 = 1 THEN 'books'
              ELSE 'code' END AS corpus
  FROM documents
),
sizes AS (
  SELECT corpus, COUNT(*) AS n_avail,
         (SELECT COUNT(*) FROM documents) AS n_total
  FROM tagged GROUP BY corpus
),
rates AS (
  SELECT corpus, n_avail,
         LEAST(1.0,
           (CASE corpus WHEN 'web' THEN 0.6 WHEN 'books' THEN 0.3 ELSE 0.1 END)
           * n_total * {_MIX_BUDGET} / n_avail) AS accept_rate
  FROM sizes
)
{_sql_mix_selected(_SQL_H60.format(x="doc_id::VARCHAR || ':' || t.text"))}""",
)
def mix_weighted_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted dataset mixing: sources are grouped into
    three corpora; each corpus gets an acceptance rate so the selected
    mixture hits target weights (60/30/10) within a total token budget,
    clamped at 1.0 when a corpus is too small (the standard
    oversampling boundary).  Row membership is decided by content hash
    against the rate — reproducible across engines and stable as
    corpora grow.  Two passes: one tiny aggregate for corpus sizes
    (broadcast back), one map-side selection — the shape that holds at
    100 TB (the per-corpus rate table is bounded by the number of
    corpora, not rows)."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.withColumn("corpus", corpus_tag())
    n_total = tagged.count()  # metadata-sized driver value (one long)
    w = (
        F.when(F.col("corpus") == "web", _MIX_WEIGHTS["web"])
        .when(F.col("corpus") == "books", _MIX_WEIGHTS["books"])
        .otherwise(_MIX_WEIGHTS["code"])
    )
    rates = (
        tagged.groupBy("corpus")
        .agg(F.count(F.lit(1)).alias("n_avail"))
        .withColumn(
            "accept_rate",
            F.least(F.lit(1.0), w * n_total * _MIX_BUDGET / F.col("n_avail")),
        )
    )
    return mix_selected(tagged, rates)
