"""End-to-end TRAINING-SET MANIFEST (round 5 composition flagship).

``mix_training_manifest`` chains the four independently-oracle-checked
pipeline stages a production pretraining-data build actually runs, in
order, over one corpus:

  1. quality gate        (``docs_quality_gate`` semantics)
  2. near-dup dedup      (``dedup_keep_representative`` semantics:
                          MinHash-LSH pairs → connected components →
                          min-id survivor)
  3. decontamination     (``contamination_span_level`` semantics, read
                          from the TRAIN side: drop any train doc that
                          shares a ≥13-token verbatim span with the
                          held-out half)
  4. per-domain token budget (``mix_token_budget_per_domain``
                          semantics: cumulative-cutoff selection against
                          integer budgets over the CLEAN pool)

The result is the per-domain funnel + final selection — the one table a
data lead reads before a run.  Every stage is deterministic integer /
boolean arithmetic, so the whole composition stays DuckDB-oracle-exact
even though it spans five operator families.

Scale: stage plans are exactly the audited upstream ones (df-capped
shingle joins, banded minhash bucket join, island windows over the
seed-match table, one broadcast one-row total, per-domain running-sum
windows); the composition adds only doc_id-keyed left joins of
corpus-sized but narrow (doc_id, flag) tables — hash joins on the
natural key, no new shuffle family.  The span table is the session-
cached one shared with the whole substring-dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    quality_score,
    token_count,
    with_predicted_lang,
)
from ..sources.tables import load_table
from .llm_dedup import (
    _CONTAM_MIN_SPAN,
    _cc_assignment,
    _SQL_CC_ASSIGN,
    _substring_spans,
    _SUBSTR_K,
)
from .llm_dedup import _SQL_TOKENS as _SQL_TOKS
from .llm_sampling import corpus_tag
from .llm_text2 import _MAX_TOKENS, _MIN_QUALITY, _MIN_TOKENS, _sql_keep
from .registry import register
from .tokenizer import _BUDGET_DEN, _BUDGET_W_PCT, _SQL_H60
from ..operators.dedup import MAX_DF_FLOOR, MAX_DF_FRAC_DEN

# Positioned 8-gram span CTEs, k-prefixed so they can share one WITH
# clause with the minhash CTE chain (which owns the name ``toks``).
# Byte-identical semantics to llm_dedup._SQL_SPANS, sides fixed to
# bench(odd) × train(even) and aggregated to the train-doc verdict.
_SQL_CONTAM_CTES = f"""
ktoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
kps_all AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {_SUBSTR_K - 1})) AS pos,
         unnest(list_transform(generate_series(1, len(t) - {_SUBSTR_K - 1}),
                i -> array_to_string(t[i:i+{_SUBSTR_K - 1}], ' '))) AS shingle
  FROM ktoks WHERE len(t) >= {_SUBSTR_K}
),
kps AS (
  SELECT doc_id, pos, shingle FROM kps_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle)
          <= (SELECT GREATEST({MAX_DF_FLOOR}, COUNT(*) // {MAX_DF_FRAC_DEN})
              FROM documents)
),
km AS (
  SELECT b.doc_id AS train_doc, a.doc_id AS bench_doc,
         b.pos AS pos_b, b.pos - a.pos AS diag
  FROM kps a JOIN kps b USING (shingle)
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
),
kisl AS (
  SELECT train_doc, bench_doc, diag, pos_b,
         pos_b - ROW_NUMBER() OVER (PARTITION BY train_doc, bench_doc, diag
                                    ORDER BY pos_b) AS grp
  FROM km
),
kspans AS (
  SELECT train_doc,
         CAST(MAX(pos_b) - MIN(pos_b) + {_SUBSTR_K} AS BIGINT) AS span_tokens
  FROM kisl GROUP BY train_doc, bench_doc, diag, grp
),
contam AS (
  SELECT train_doc AS doc_id FROM kspans
  GROUP BY train_doc HAVING MAX(span_tokens) >= {_CONTAM_MIN_SPAN}
)"""


def _sql_corpus_tag() -> str:
    h = _SQL_H60.format(x="source")
    return (
        f"CASE WHEN {h} % 3 = 0 THEN 'web' "
        f"WHEN {h} % 3 = 1 THEN 'books' ELSE 'code' END"
    )


def _sql_budget_case() -> str:
    return (
        f"CASE corpus WHEN 'web' THEN {_BUDGET_W_PCT['web']} "
        f"WHEN 'books' THEN {_BUDGET_W_PCT['books']} "
        f"ELSE {_BUDGET_W_PCT['code']} END"
    )


@register(
    "mix_training_manifest",
    tags=("llm", "mixing", "dedup", "quality", "contamination", "end-to-end"),
    oracle=f"""
WITH RECURSIVE {_SQL_CC_ASSIGN},
{_SQL_CONTAM_CTES},
pool AS (
  SELECT d.doc_id,
         {_sql_corpus_tag()} AS corpus,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
         {_sql_keep()} AS q_keep,
         (a.doc_id IS NULL OR a.doc_id = a.cluster_id) AS survivor,
         (c.doc_id IS NOT NULL) AS contaminated
  FROM documents d
  LEFT JOIN assign a ON a.doc_id = d.doc_id
  LEFT JOIN contam c ON c.doc_id = d.doc_id
  WHERE d.doc_id % 2 = 0
),
clean AS (
  SELECT corpus, doc_id, n_tokens FROM pool
  WHERE q_keep AND survivor AND NOT contaminated
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM clean),
cum AS (
  SELECT corpus, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY corpus ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS cum_before,
         (total_tokens * {_sql_budget_case()}) // {_BUDGET_DEN}
           AS budget_tokens
  FROM clean CROSS JOIN tot
),
sel AS (
  SELECT corpus,
         MAX(budget_tokens) AS budget_tokens,
         COUNT(*) FILTER (WHERE cum_before < budget_tokens) AS n_selected,
         CAST(COALESCE(SUM(n_tokens) FILTER (WHERE cum_before < budget_tokens),
                       0) AS BIGINT) AS tokens_selected
  FROM cum GROUP BY corpus
),
funnel AS (
  SELECT corpus,
         COUNT(*) AS n_pool,
         COUNT(*) FILTER (WHERE q_keep) AS n_quality,
         COUNT(*) FILTER (WHERE q_keep AND survivor) AS n_dedup,
         COUNT(*) FILTER (WHERE q_keep AND survivor AND NOT contaminated)
           AS n_clean,
         CAST(COALESCE(SUM(n_tokens) FILTER (
              WHERE q_keep AND survivor AND NOT contaminated), 0) AS BIGINT)
           AS tokens_clean
  FROM pool GROUP BY corpus
)
SELECT f.corpus, f.n_pool, f.n_quality, f.n_dedup, f.n_clean, f.tokens_clean,
       CAST(COALESCE(s.budget_tokens, 0) AS BIGINT) AS budget_tokens,
       CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(s.tokens_selected, 0) AS BIGINT) AS tokens_selected
FROM funnel f LEFT JOIN sel s ON s.corpus = f.corpus
ORDER BY f.corpus
""",
)
def mix_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-set manifest — quality gate ∘ near-dup
    survivorship ∘ span-level decontamination ∘ per-domain token
    budgets, the full corpus-build funnel in ONE oracle-exact query
    (per domain: pool → quality → dedup → clean counts, clean token
    volume, the integer budget, and the final selected doc/token
    counts).  Each stage reuses the audited upstream operator — MinHash
    LSH pairs + distributed CC (``dedup_keep_representative``), the
    session-cached maximal-span table read train-side
    (``contamination_span_level``'s commuting side-filter), the
    ``docs_quality_gate`` keep expression, and
    ``mix_token_budget_per_domain``'s BIGINT cumulative-cutoff
    arithmetic — so the composition adds only narrow doc_id-keyed left
    joins and stays bit-exact cross-engine.  Train pool = even doc_id
    (odd half is the held-out benchmark, as in the contamination
    family).  Reference analog: none (mandated LLM-pipeline surface);
    the staging mirrors Lee et al. 2022 + GPT-3 App. C hygiene."""
    d = load_table(spark, sf_dir, "documents")

    # stage 2: full-corpus dedup survivorship (pipeline dedups the
    # crawl before splitting — same decision as dedup_keep_representative,
    # read from the session-cached CC assignment)
    assign = _cc_assignment(spark, sf_dir)

    # stage 3: train-side contamination verdict from the cached
    # all-pairs span table (side-filtering commutes with island
    # extension — see contamination_span_level)
    spans = _substring_spans(spark, sf_dir)
    train_a = spans.filter(
        (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 1)
    ).select(F.col("doc_a").alias("doc_id"), "span_tokens")
    train_b = spans.filter(
        (F.col("doc_a") % 2 == 1) & (F.col("doc_b") % 2 == 0)
    ).select(F.col("doc_b").alias("doc_id"), "span_tokens")
    contam = (
        train_a.unionByName(train_b)
        .groupBy("doc_id")
        .agg(F.max("span_tokens").alias("max_span"))
        .filter(F.col("max_span") >= _CONTAM_MIN_SPAN)
        .select("doc_id", F.lit(True).alias("contaminated"))
    )

    # stage 1 flags + domain tag + token counts, even-half pool
    t = F.col("text")
    # r10: language scores bound once per row (with_predicted_lang)
    q_keep = (
        (F.col("_plang") == F.col("lang"))
        & token_count(t).between(_MIN_TOKENS, _MAX_TOKENS)
        & (quality_score(t) >= _MIN_QUALITY)
    )
    pool = (
        with_predicted_lang(
            d.filter(F.col("doc_id") % 2 == 0), "text", "_plang"
        )
        .select(
            "doc_id",
            corpus_tag().alias("corpus"),
            token_count(t).cast("long").alias("n_tokens"),
            q_keep.alias("q_keep"),
        )
        .join(assign, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "corpus",
            "n_tokens",
            "q_keep",
            (
                F.col("cluster_id").isNull()
                | (F.col("doc_id") == F.col("cluster_id"))
            ).alias("survivor"),
            F.coalesce(F.col("contaminated"), F.lit(False)).alias(
                "contaminated"
            ),
        )
        # consumed by BOTH the budget chain (clean → cum → sel) and the
        # funnel agg: without this the quality/langid/token regex
        # expression trees and the two doc_id joins run twice per
        # collect (measured 3.5 → 2.3 s steady at sf0.1).  The
        # materialized frame is flag-grain — (doc_id, corpus, n_tokens,
        # 3 booleans) — never text-sized, so the checkpoint is bounded
        # at any corpus size (guide §5: reuse only when recompute costs
        # more than the memory it pins).
        .localCheckpoint(eager=True)
    )
    clean_flag = (
        F.col("q_keep") & F.col("survivor") & ~F.col("contaminated")
    )

    # stage 4: BIGINT budgets + cumulative cutoff over the clean pool
    clean = pool.filter(clean_flag).select("corpus", "doc_id", "n_tokens")
    tot = clean.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    win = (
        Window.partitionBy("corpus")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        clean.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_before",
            (F.sum("n_tokens").over(win) - F.col("n_tokens")).cast("long"),
        )
        .withColumn(
            # SQL `div`, never `/`: double division diverges from
            # DuckDB's exact integer `//` past 2^53
            "budget_tokens",
            F.expr(
                f"(total_tokens * {_sql_budget_case()}) div {_BUDGET_DEN}"
            ).cast("long"),
        )
    )
    picked = F.col("cum_before") < F.col("budget_tokens")
    sel = cum.groupBy("corpus").agg(
        F.max("budget_tokens").alias("budget_tokens"),
        F.count(F.when(picked, 1)).alias("n_selected"),
        F.coalesce(F.sum(F.when(picked, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_selected"),
    )

    funnel = pool.groupBy("corpus").agg(
        F.count(F.lit(1)).alias("n_pool"),
        F.count(F.when(F.col("q_keep"), 1)).alias("n_quality"),
        F.count(F.when(F.col("q_keep") & F.col("survivor"), 1)).alias(
            "n_dedup"
        ),
        F.count(F.when(clean_flag, 1)).alias("n_clean"),
        F.coalesce(F.sum(F.when(clean_flag, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_clean"),
    )
    return (
        funnel.join(sel, "corpus", "left")
        .select(
            "corpus",
            "n_pool",
            "n_quality",
            "n_dedup",
            "n_clean",
            "tokens_clean",
            F.coalesce(F.col("budget_tokens"), F.lit(0))
            .cast("long")
            .alias("budget_tokens"),
            F.coalesce(F.col("n_selected"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(F.col("tokens_selected"), F.lit(0))
            .cast("long")
            .alias("tokens_selected"),
        )
        .orderBy("corpus")
    )
