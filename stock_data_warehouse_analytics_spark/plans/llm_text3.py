"""Third LLM-pipeline batch: intra-document repetition signals (the
"low-quality repetitive text" filter every pretraining pipeline runs)
and multimodal frame sampling (video-frame extraction plumbing over
binary payloads).

Same contract as ``llm_text.py``: Spark expressions and DuckDB oracles
generated from the same constants, hash-compared bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.tables import load_table
from .llm_text import _SQL_TOKENS
from .registry import register


# Repetition gate: a doc is flagged when under half its tokens are
# distinct OR any single token exceeds a fifth of the text.  Ratios are
# plain int/int double divisions (bit-identical across engines, no
# ROUND needed — see ROUND_NOTES.md on ROUND half-boundary drift).
_MIN_DISTINCT_RATIO = 0.5
_MAX_TOP_SHARE = 0.2


@register(
    "text_repetition_signals",
    tags=("llm", "text", "quality", "dedup"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
),
freqs AS (
  SELECT doc_id, tok, COUNT(*)::BIGINT AS n
  FROM toks GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         SUM(n)::BIGINT AS n_tokens,
         COUNT(*)::BIGINT AS n_distinct,
         MAX(n)::BIGINT AS top_freq
  FROM freqs GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       n_distinct / n_tokens AS distinct_ratio,
       top_freq / n_tokens AS top_token_share,
       (n_distinct / n_tokens < {_MIN_DISTINCT_RATIO}
        OR top_freq / n_tokens > {_MAX_TOP_SHARE}) AS is_repetitive
FROM per_doc
ORDER BY doc_id
""",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition stats: distinct-token ratio and the
    share of the single most frequent token — the two cheap signals for
    degenerate/boilerplate text.  explode → (doc_id, tok) counts →
    per-doc rollup: both aggregations partition by doc_id, so partial
    (map-side) aggregation absorbs the token fan-out and the only
    full-size shuffle carries one row per (doc, distinct token).  All
    ratios are int/int double divisions — deterministic across engines
    without rounding."""
    d = load_table(spark, sf_dir, "documents")
    freqs = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = freqs.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n").alias("top_freq"),
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens")
    top_share = F.col("top_freq") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        distinct_ratio.alias("distinct_ratio"),
        top_share.alias("top_token_share"),
        (
            (distinct_ratio < _MIN_DISTINCT_RATIO) | (top_share > _MAX_TOP_SHARE)
        ).alias("is_repetitive"),
    ).orderBy("doc_id")


_STRIDE = 16
_FRAME_LEN = 4


@register(
    "multimodal_frame_sample",
    tags=("llm", "multimodal", "binary", "explode"),
    oracle=f"""
WITH frames AS (
  SELECT doc_id,
         unnest(generate_series(
           0, GREATEST((length(text) - {_FRAME_LEN}) // {_STRIDE}, 0)
         ))::BIGINT AS frame_idx,
         text
  FROM documents
)
SELECT doc_id, frame_idx,
       md5(substring(text, (frame_idx * {_STRIDE} + 1)::INT, {_FRAME_LEN}))
         AS frame_md5
FROM frames
ORDER BY doc_id, frame_idx
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling plumbing: slice each binary payload at a
    fixed byte stride into fixed-length frames (posexplode — one output
    row per frame) and fingerprint each frame.  Pure JVM expressions,
    map-only (zero shuffle): the 100 TB shape for frame extraction,
    with the codec decode itself stubbed (operators/multimodal.py
    ``decode_image_stub``) since image/video libs are absent.  The
    oracle mirrors byte slicing with char slicing — valid because the
    corpus is ASCII (asserted in tests/test_streaming_multimodal.py)."""
    from ..operators.multimodal import attach_blob, frame_sample

    d = load_table(spark, sf_dir, "documents")
    out = frame_sample(attach_blob(d), stride=_STRIDE, frame_len=_FRAME_LEN)
    return out.select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx"), "frame_md5"
    ).orderBy("doc_id", "frame_idx")


# low-diversity gate: flag when one-in-ten random char pairs collide
_MAX_COLLISION = 0.10


@register(
    "text_char_diversity",
    tags=("llm", "text", "quality", "entropy"),
    oracle=f"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
f AS (
  SELECT doc_id, c, COUNT(*)::BIGINT AS n
  FROM ch WHERE c <> '' GROUP BY doc_id, c
),
agg AS (
  SELECT doc_id,
         SUM(n)::BIGINT AS n_chars,
         COUNT(*)::BIGINT AS n_distinct_chars,
         SUM(n * n)::BIGINT AS sum_sq
  FROM f GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars,
       CAST(sum_sq AS DOUBLE) / n_chars / n_chars AS collision_prob,
       CAST(n_chars AS DOUBLE) * n_chars / sum_sq AS effective_alphabet,
       (CAST(sum_sq AS DOUBLE) / n_chars / n_chars > {_MAX_COLLISION})
         AS is_low_diversity
FROM agg
ORDER BY doc_id
""",
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality signal WITHOUT transcendentals:
    collision probability Σp² (Rényi-2; Simpson index) and its inverse
    — the "effective alphabet size" — flag gibberish / repeated-char /
    base64-ish text the way character entropy would, but every compared
    value is integer sums + two fixed-order double divisions, so it
    hash-matches across engines (log2 itself differs from DuckDB's in
    the last ulp on ~2% of inputs — measured; that is why the
    entropy-shaped signal here is Rényi-2, not Shannon).  explode →
    per-(doc, char) counts → per-doc rollup, both aggregations on the
    doc_id partitioning."""
    d = load_table(spark, sf_dir, "documents")
    f = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = f.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    collision = (
        F.col("sum_sq").cast("double") / F.col("n_chars") / F.col("n_chars")
    )
    eff = F.col("n_chars").cast("double") * F.col("n_chars") / F.col("sum_sq")
    return agg.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        collision.alias("collision_prob"),
        eff.alias("effective_alphabet"),
        (collision > _MAX_COLLISION).alias("is_low_diversity"),
    ).orderBy("doc_id")
