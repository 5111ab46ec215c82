"""Corpus-level signal extraction: TextRank keyword extraction and an
embedding-distribution drift monitor.

``text_textrank_keywords`` is the classic graph-based keyphrase
extractor (Mihalcea & Tarau 2004): PageRank over the word
co-occurrence graph restricted to the top-V vocabulary.  It composes
the repo's two iteration stances — the graph is VOCABULARY-bounded
(Heaps' law), so per the state-size rule (ROUND_NOTES r2: data-sized
state → relational loop; dimension-sized state → driver) the power
iteration runs driver-side over the collected bounded edge set, while
the oracle replays the same fixed rounds as materialized CTEs
(`graph_pagerank_nations` / `graph_bfs_hops` pattern).

``emb_drift_monitor`` is the production check run before swapping in a
re-embedded corpus or a new data batch: per-dimension centroid shift
between the old and new halves, on the `emb_centroids_by_label`
integer-micro-unit contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.tables import load_table
from ..operators.localrel import literal_df
from .llm_text import _SQL_TOKENS as _SQL_TOKS
from .registry import register

_TR_VOCAB = 50  # top-V vocabulary (Heaps-bounded graph size)
_TR_ROUNDS = 8  # fixed power-iteration rounds (the PageRank stance)
_TR_TOP = 10  # keywords reported
_TR_BASE = 150_000  # (1 − d) · 1e6 with damping d = 0.85


def _textrank_oracle() -> str:
    parts = [
        f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
vocab AS MATERIALIZED (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w ORDER BY cnt DESC, w LIMIT {_TR_VOCAB}
),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
e0 AS (
  SELECT w1, w2, COUNT(*) AS c FROM bi
  WHERE w1 != w2
    AND w1 IN (SELECT w FROM vocab) AND w2 IN (SELECT w FROM vocab)
  GROUP BY w1, w2
),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(SUM(c) AS BIGINT) AS w FROM (
    SELECT w1 AS src, w2 AS dst, c FROM e0
    UNION ALL
    SELECT w2 AS src, w1 AS dst, c FROM e0
  ) GROUP BY src, dst
),
outw AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src
),
nodes AS MATERIALIZED (SELECT w AS node FROM vocab),
p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    ]
    for i in range(1, _TR_ROUNDS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst, CAST(SUM((85 * (p.pr * e.w // o.ow)) // 100) AS BIGINT) AS c
  FROM edges e
  JOIN p{i - 1} p ON p.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
),
p{i} AS MATERIALIZED (
  SELECT n.node, CAST({_TR_BASE} + COALESCE(c.c, 0) AS BIGINT) AS pr
  FROM nodes n LEFT JOIN c{i} c ON c.dst = n.node
)"""
        )
    parts.append(
        f"""
SELECT node AS word, pr AS textrank_micro,
       ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rank
FROM p{_TR_ROUNDS}
ORDER BY pr DESC, node LIMIT {_TR_TOP}
"""
    )
    return "".join(parts)


@register(
    "text_textrank_keywords",
    tags=("llm", "text", "keywords", "graph", "iterative"),
    oracle=_textrank_oracle(),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank (damping 0.85, {rounds} fixed rounds) over the adjacency
    co-occurrence graph of the corpus's top-{vocab} vocabulary; the
    top-{top} words by stationary score are the corpus keywords — the
    unsupervised keyphrase signal corpus-curation dashboards surface
    next to `text_tfidf_topterms` (which needs a document grain to
    contrast against; TextRank does not).

    Iteration stance: the graph is VOCABULARY-capped ({vocab} nodes,
    ≤{vocab}² directed edges) — dimension-sized state, so after one
    corpus-side tokenize/count/filter pipeline collapses the facts to
    the bounded edge list, the power iteration runs driver-side over
    the collected edges (the `graph_bfs_hops` stance; a relational
    loop would pay ~0.5 s/round of pure scheduling for ≤2.5k rows of
    state).  The oracle replays the SAME {rounds} rounds as
    materialized CTEs with identical integer arithmetic.

    Exactness: scores live in integer micro-units; one round is
    pr' = 150000 + Σ_in (85·(pr·w // out_w)) // 100 — every operation
    BIGINT floor division on positives, so driver Python, Spark, and
    DuckDB agree bit-for-bit and the fixed-round result is
    deterministic at any partitioning.

    Scale shape: tokenize + unigram count (map-side partial agg) →
    top-{vocab} via TakeOrdered; bigram explode filtered by TWO
    broadcast semi-joins against the {vocab}-row vocab BEFORE the
    pair groupBy, so the edge shuffle is vocab²-bounded, not
    corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens(F.col("text")).alias("t"))
    vocab = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(_TR_VOCAB)
    ).localCheckpoint(eager=True)  # ≤50 rows, consumed by two joins
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1),"
                " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    v1 = vocab.select(F.col("w").alias("w1"))
    v2 = vocab.select(F.col("w").alias("w2"))
    e0 = (
        bi.filter(F.col("w1") != F.col("w2"))
        .join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    edges = (
        e0.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionByName(
            e0.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c")
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("long").alias("w"))
    )
    # bounded collects: vocab ≤ _TR_VOCAB rows, edges ≤ _TR_VOCAB² rows
    nodes = [r.w for r in vocab.collect()]
    edge_rows = [(r.src, r.dst, int(r.w)) for r in edges.collect()]
    out_w: dict[str, int] = {}
    for src, _dst, w in edge_rows:
        out_w[src] = out_w.get(src, 0) + w
    pr = {n: 1_000_000 for n in nodes}
    for _ in range(_TR_ROUNDS):
        contrib: dict[str, int] = {}
        for src, dst, w in edge_rows:
            term = (85 * (pr[src] * w // out_w[src])) // 100
            contrib[dst] = contrib.get(dst, 0) + term
        pr = {n: _TR_BASE + contrib.get(n, 0) for n in nodes}
    ranked = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:_TR_TOP]
    rows = [(w, p, i + 1) for i, (w, p) in enumerate(ranked)]
    return literal_df(
        spark, rows, "word string, textrank_micro long, rank long"
    ).orderBy("rank")


text_textrank_keywords.__doc__ = text_textrank_keywords.__doc__.format(
    rounds=_TR_ROUNDS, vocab=_TR_VOCAB, top=_TR_TOP
)


# ------------------------------------------------------ embedding drift

_DRIFT_SCALE = 1_000_000  # integer micro-units (emb_centroids contract)


@register(
    "emb_drift_monitor",
    tags=("llm", "embedding", "drift", "monitoring"),
    oracle=f"""
WITH flat AS (
  SELECT vec_id % 2 AS half,
         unnest(generate_series(0, len(embedding) - 1))::INT AS pos,
         CAST(FLOOR(unnest(embedding)::DOUBLE * {_DRIFT_SCALE}.0) AS BIGINT)
           AS q
  FROM embeddings
),
agg AS (
  SELECT pos,
         COUNT(*) FILTER (WHERE half = 0) AS n_old,
         COUNT(*) FILTER (WHERE half = 1) AS n_new,
         CAST(FLOOR(CAST(SUM(q) FILTER (WHERE half = 0) AS DOUBLE)
                    / COUNT(*) FILTER (WHERE half = 0)) AS BIGINT)
           AS mean_old_micro,
         CAST(FLOOR(CAST(SUM(q) FILTER (WHERE half = 1) AS DOUBLE)
                    / COUNT(*) FILTER (WHERE half = 1)) AS BIGINT)
           AS mean_new_micro
  FROM flat GROUP BY pos
)
SELECT pos, n_old, n_new, mean_old_micro, mean_new_micro,
       mean_new_micro - mean_old_micro AS delta_micro,
       ABS(mean_new_micro - mean_old_micro) AS abs_delta_micro
FROM agg ORDER BY pos
""",
)
def emb_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-DISTRIBUTION DRIFT monitor: per-dimension centroid
    shift between the "old" and "new" corpus halves (vec_id parity —
    the deterministic stand-in for before/after batches) — the check a
    production pipeline runs before swapping in a re-embedded corpus
    or admitting a new ingestion batch, upstream of re-tuning ANN
    index parameters (`sim_topk_ivf*` fits assume a stationary
    distribution; this is the alarm when that assumption breaks).

    Exactness: the `emb_centroids_by_label` integer contract — values
    quantized to int64 micro-units via floor(v·1e6) (pure double
    product + floor, representation-independent), exact integer sums,
    mean as floor(sum/n) — so NO rounding function runs and every
    column is BIGINT.

    Scale shape: posexplode → (half, pos) grouped agg: map-side
    partial aggregation, shuffle volume ∝ 2 × dim rows — bounded by
    the embedding dimension, never the vector count; the final
    old-vs-new join is dim-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("v").cast("double") * float(_DRIFT_SCALE)).cast("long")
    half = F.col("half")
    mean_of = lambda h: F.floor(  # noqa: E731
        F.sum(F.when(half == h, F.col("q"))).cast("double")
        / F.count(F.when(half == h, 1))
    ).cast("long")
    agg = (
        e.select(
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .select("half", "pos", q.alias("q"))
        .groupBy("pos")
        .agg(
            F.count(F.when(half == 0, 1)).alias("n_old"),
            F.count(F.when(half == 1, 1)).alias("n_new"),
            mean_of(0).alias("mean_old_micro"),
            mean_of(1).alias("mean_new_micro"),
        )
    )
    return agg.select(
        "pos",
        "n_old",
        "n_new",
        "mean_old_micro",
        "mean_new_micro",
        (F.col("mean_new_micro") - F.col("mean_old_micro")).alias(
            "delta_micro"
        ),
        F.abs(F.col("mean_new_micro") - F.col("mean_old_micro")).alias(
            "abs_delta_micro"
        ),
    ).orderBy("pos")


# ------------------------------------------ compression-ratio quality

_CQ_LEVEL = 6  # zlib level: the pipeline-standard fixed setting
_CQ_FLAG = 0.35  # ratio below this = highly repetitive (flag for review)


@register(
    "text_compression_quality",
    tags=("llm", "text", "quality", "compression", "signal"),
    oracle=None,  # zlib DEFLATE output length is library-specific (no
    # DuckDB mirror); semantics re-derived independently per doc with
    # direct zlib in tests/test_chunking.py::
    # test_compression_quality_matches_zlib (a same-library
    # differential: it certifies the Spark plumbing — Arrow batching,
    # aggregation, quantization — not the DEFLATE bytes themselves)
)
def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO quality signal — the redundancy proxy real
    curation pipelines (Gopher/RefinedWeb lineage) compute next to the
    rule-based filters: compressed_len/raw_len under zlib level
    {level}; text that compresses far below the corpus norm is
    boilerplate/repetition, far above is noise/random.  Per source:
    doc count, mean ratio, and the share flagged below {flag}.

    Rows-only BY NECESSITY: the DEFLATE byte count has no relational
    mirror — the named substitute test re-derives every per-doc ratio
    with direct zlib and the aggregation in pure pandas (see the
    register note).

    Exactness discipline: per-doc ratios are nano-quantized BEFORE the
    per-source mean (exact integer sum, one double division), the
    same no-summation-order-hazard route as every panel.

    Scale shape: ONE mapInPandas pass (Arrow-batched; zlib is C-speed,
    ~100 MB/s/core — the op is scan-bound); everything after is a
    |sources|-row aggregate with map-side partials."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")

    def score(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            nano = [
                round(
                    len(zlib.compress(t, _CQ_LEVEL)) / max(len(t), 1)
                    * 1_000_000_000
                )
                for t in raw
            ]
            yield pd.DataFrame(
                {"source": pdf["source"], "ratio_nano": nano}
            )

    scored = d.select("source", "text").mapInPandas(
        score, "source string, ratio_nano long"
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("ratio_nano").cast("double")
                / (F.count(F.lit(1)) * 1_000_000_000.0),
                6,
            ).alias("mean_ratio"),
            F.count(
                F.when(
                    F.col("ratio_nano") < int(_CQ_FLAG * 1_000_000_000), 1
                )
            )
            .cast("long")
            .alias("n_flagged"),
            F.round(
                F.count(
                    F.when(
                        F.col("ratio_nano") < int(_CQ_FLAG * 1_000_000_000),
                        1,
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("flag_share"),
        )
        .orderBy("source")
    )


text_compression_quality.__doc__ = text_compression_quality.__doc__.format(
    level=_CQ_LEVEL, flag=_CQ_FLAG
)
