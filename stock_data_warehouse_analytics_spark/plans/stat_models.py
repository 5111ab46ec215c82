"""Statistical-model audits: a trained Naive-Bayes classifier, a
Jensen–Shannon mixture-drift panel, a Kaplan–Meier survival table, and
a Matryoshka embedding-truncation audit.

These close the "cheap learned model, trained relationally" family the
LM/quality stack started (``plans/lm.py`` perplexity gate,
``operators/logreg.py`` IRLS): a production corpus pipeline trains its
language-ID / quality classifiers on the cluster, not the driver, and
audits its domain mixture and embedding representation the same way.
(The reference repo has no classifier/survival stage — this is the
mandated LLM-pipeline extension surface, like ``plans/tokenizer.py``.)

Shared scale shapes:

* Classifier/divergence models collapse the corpus ONCE to
  (class, token) count tables whose cardinality is classes × vocabulary
  (Heaps' law, ≪ corpus); scoring re-joins the token stream against
  them (AQE broadcasts when small, plain shuffle equi-join when not).
* The Kaplan–Meier table is distinct-duration-sized (bounded by the
  calendar span), produced from one per-user aggregate.
* The Matryoshka audit broadcasts a bounded query set over one corpus
  scan per variant — the corpus itself never shuffles.

Cross-engine exactness: counts are integers; per-row LN / division are
deterministic double ops; sums either go through integer micro-units
(``CAST(ROUND(x * 1e6) AS BIGINT)`` — order-independent by
construction, the ``plans/lm.py`` idiom) or DECIMAL exact sums
(``plans/exact.dsum``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import hash_int60
from ..operators.similarity import normalize, topk_bruteforce
from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .llm_text import _SQL_TOKENS as _SQL_TOKS
from .registry import register

# DuckDB mirror of operators.dedup.hash_int60
_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


# --------------------------------------------------------------------------
# Naive-Bayes language classifier (trained relationally, hash split)
# --------------------------------------------------------------------------

@register(
    "text_nb_langid_train",
    tags=("llm", "text", "classifier", "naive-bayes", "langid"),
    oracle=f"""
WITH split AS (
  SELECT doc_id, lang, text,
         {_SQL_H60.format(x="doc_id::VARCHAR || ':' || text")} % 4 AS bucket
  FROM documents
),
train_toks AS (
  SELECT lang, unnest({_SQL_TOKS}) AS tok FROM split WHERE bucket <> 0
),
clt AS (SELECT lang, tok, COUNT(*) AS c FROM train_toks GROUP BY lang, tok),
cl  AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok,
               COUNT(*) AS n_types FROM clt GROUP BY lang),
v   AS (SELECT COUNT(DISTINCT tok) AS v FROM train_toks),
prior AS (
  SELECT lang, COUNT(*) AS n_docs FROM split WHERE bucket <> 0 GROUP BY lang
),
test_toks AS (
  SELECT s.doc_id, s.lang AS actual, unnest({_SQL_TOKS}) AS tok
  FROM split s WHERE bucket = 0
),
langs AS (SELECT DISTINCT lang FROM prior),
scored AS (
  SELECT t.doc_id, t.actual, l.lang,
         CAST(ROUND(LN((COALESCE(c.c, 0) + 1)::DOUBLE
                       / (cl.n_tok + v.v)::DOUBLE)
                    * 1000000, 0) AS BIGINT) AS lpm
  FROM test_toks t
  CROSS JOIN langs l
  JOIN cl ON cl.lang = l.lang
  CROSS JOIN v
  LEFT JOIN clt c ON c.lang = l.lang AND c.tok = t.tok
),
doc_scores AS (
  SELECT s.doc_id, s.actual, s.lang,
         CAST(SUM(s.lpm) AS BIGINT)
           + CAST(ROUND(LN(p.n_docs::DOUBLE
                           / (SELECT SUM(n_docs) FROM prior)::DOUBLE)
                        * 1000000, 0) AS BIGINT) AS score
  FROM scored s JOIN prior p ON p.lang = s.lang
  GROUP BY s.doc_id, s.actual, s.lang, p.n_docs
),
pred AS (
  SELECT doc_id, actual, lang AS predicted
  FROM doc_scores
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, lang) = 1
)
SELECT actual, predicted, COUNT(*) AS n_docs
FROM pred GROUP BY actual, predicted
ORDER BY actual, predicted
""",
)
def text_nb_langid_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NAIVE-BAYES language classifier trained RELATIONALLY
    on a 75/25 content-hash split (bucket = h60(doc_id‖text) mod 4;
    bucket ≠ 0 trains, bucket 0 tests) and evaluated as a confusion
    matrix (actual lang × predicted lang × count) — the learned
    counterpart of the heuristic ``text_langid_confusion``, and the
    production shape of a fastText-style corpus labeler: the model IS
    two grouped-count tables.

    Scale shape: the corpus collapses once to (lang, token) counts
    (classes × vocabulary — Heaps' law, ≪ corpus); scoring explodes
    the held-out docs to their token stream, cross-joins the bounded
    class dimension (|langs| rows, broadcast — a 5× stream blowup
    bounded by the class count, NOT the corpus), and left-joins the
    count table on (lang, token).  Add-one smoothing handles unseen
    tokens via COALESCE(c, 0).  Per-token log-likelihoods quantize to
    integer micro-units in-row (the ``plans/lm.py`` idiom), so the
    per-(doc, lang) sum is an order-independent BIGINT sum and argmax
    (score DESC, lang ASC tiebreak) compares bit-for-bit with DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    split = d.select(
        "doc_id",
        "lang",
        "text",
        (
            hash_int60(
                F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
            )
            % 4
        ).alias("bucket"),
    )
    train_toks = (
        split.filter(F.col("bucket") != 0)
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    clt = train_toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    cl = clt.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tok"), F.count(F.lit(1)).alias("n_types")
    )
    v = train_toks.agg(F.countDistinct("tok").alias("v"))
    prior = (
        split.filter(F.col("bucket") != 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total_docs = prior.agg(F.sum("n_docs").alias("tot"))
    langs = prior.select("lang")

    test_toks = split.filter(F.col("bucket") == 0).select(
        "doc_id",
        F.col("lang").alias("actual"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    scored = (
        test_toks.crossJoin(F.broadcast(langs.select(F.col("lang"))))
        .join(F.broadcast(cl), "lang")
        .crossJoin(F.broadcast(v))
        .join(
            clt.withColumnRenamed("lang", "c_lang").withColumnRenamed("tok", "c_tok"),
            (F.col("c_lang") == F.col("lang")) & (F.col("c_tok") == F.col("tok")),
            "left",
        )
        .select(
            "doc_id",
            "actual",
            "lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_tok") + F.col("v")).cast("double")
                )
                * 1000000,
                0,
            )
            .cast("long")
            .alias("lpm"),
        )
    )
    prior_lpm = (
        prior.crossJoin(F.broadcast(total_docs))
        .select(
            "lang",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("tot").cast("double"))
                * 1000000,
                0,
            )
            .cast("long")
            .alias("prior_lpm"),
        )
    )
    doc_scores = (
        scored.groupBy("doc_id", "actual", "lang")
        .agg(F.sum("lpm").cast("long").alias("s"))
        .join(F.broadcast(prior_lpm), "lang")
        .select(
            "doc_id",
            "actual",
            "lang",
            (F.col("s") + F.col("prior_lpm")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
    pred = (
        doc_scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("lang").alias("predicted"))
    )
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )


# --------------------------------------------------------------------------
# Jensen–Shannon divergence of each source's unigram mixture vs corpus
# --------------------------------------------------------------------------

@register(
    "text_js_divergence_sources",
    tags=("llm", "text", "divergence", "mixture", "drift"),
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
),
csw AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok),
ns  AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM csw GROUP BY source),
cw  AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cq FROM csw GROUP BY tok),
nq  AS (SELECT CAST(SUM(cq) AS BIGINT) AS n FROM cw),
terms AS (
  SELECT s.source,
         0.5 * ((s.c::DOUBLE / ns.n_s) * LN((s.c::DOUBLE / ns.n_s)
                  / (((s.c::DOUBLE / ns.n_s) + (cw.cq::DOUBLE / nq.n)) / 2))
              + (cw.cq::DOUBLE / nq.n) * LN((cw.cq::DOUBLE / nq.n)
                  / (((s.c::DOUBLE / ns.n_s) + (cw.cq::DOUBLE / nq.n)) / 2))
              - (cw.cq::DOUBLE / nq.n) * LN(2)) AS term
  FROM csw s
  JOIN ns ON ns.source = s.source
  JOIN cw ON cw.tok = s.tok
  CROSS JOIN nq
)
SELECT t.source, ns.n_s AS n_tokens,
       ROUND((0.5 * LN(2) + {sql_dsum("term")}) / LN(2), 6) AS jsd_bits
FROM terms t JOIN ns ON ns.source = t.source
GROUP BY t.source, ns.n_s
ORDER BY t.source
""",
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN–SHANNON divergence of every source's unigram distribution
    against the whole-corpus distribution, in bits — the mixture-drift
    audit a corpus team runs before re-weighting domains (a source
    whose JSD spikes is contributing a different language than the mix
    was tuned for; pairs with ``dq_distribution_drift`` which covers
    the numeric columns).

    Scale shape: everything after the one exploding pass is
    VOCABULARY-sized — (source, token) counts, per-source totals,
    corpus totals.  The out-of-support part of the sum never
    materializes: for tokens a source lacks, the per-token term
    collapses algebraically to ``0.5·q·ln 2`` whose total is
    ``0.5·ln 2 − Σ_{{w∈supp}} 0.5·q·ln 2``, so the join stays on the
    source's OWN support (the csw table) — no source × vocab
    coalesce-0 materialization at any scale.  Per-token terms are
    deterministic double ops on exact integer ratios, summed with
    DECIMAL exactness (``plans/exact.dsum``) — bit-identical to
    DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    csw = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    ns = csw.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    cw = csw.groupBy("tok").agg(F.sum("c").cast("long").alias("cq"))
    nq = cw.agg(F.sum("cq").cast("long").alias("n"))

    p = F.col("c").cast("double") / F.col("n_s")
    q = F.col("cq").cast("double") / F.col("n")
    m = (p + q) / 2
    term = 0.5 * (
        p * F.log(p / m) + q * F.log(q / m) - q * F.log(F.lit(2.0))
    )
    terms = (
        csw.join(F.broadcast(ns), "source")
        .join(cw, "tok")
        .crossJoin(F.broadcast(nq))
        .select("source", term.alias("term"))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.round(
                (0.5 * F.log(F.lit(2.0)) + dsum("term")) / F.log(F.lit(2.0)), 6
            ).alias("jsd_bits")
        )
        .join(F.broadcast(ns), "source")
        .select("source", F.col("n_s").alias("n_tokens"), "jsd_bits")
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Kaplan–Meier survival over user lifetimes
# --------------------------------------------------------------------------

_KM_CENSOR_DAYS = 7  # still active within this window of study end ⇒ censored


@register(
    "events_survival_kaplan_meier",
    tags=("events", "survival", "kaplan-meier", "lifecycle"),
    oracle=f"""
WITH study AS (SELECT CAST(MAX(ts) AS DATE) AS study_end FROM events),
users AS (
  SELECT user_id,
         date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
           AS duration,
         date_diff('day', CAST(MAX(ts) AS DATE),
                   (SELECT study_end FROM study)) > {_KM_CENSOR_DAYS}
           AS churned
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT duration AS day,
         COUNT(*) FILTER (WHERE churned) AS n_events,
         COUNT(*) FILTER (WHERE NOT churned) AS n_censored
  FROM users GROUP BY duration
),
risk AS (
  SELECT day, n_events, n_censored,
         (SELECT COUNT(*) FROM users)
           - COALESCE(SUM(n_events + n_censored) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_risk
  FROM per_day
),
km AS (
  SELECT day, n_risk, n_events, n_censored,
         CAST(SUM(CASE WHEN n_events > 0 THEN
                CAST(ROUND(LN(1 - n_events::DOUBLE / n_risk) * 1000000, 0)
                     AS BIGINT) ELSE 0 END)
              OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS lsm
  FROM risk
)
SELECT day, n_risk, n_events, n_censored,
       ROUND(EXP(lsm::DOUBLE / 1000000), 6) AS survival
FROM km ORDER BY day
""",
)
def events_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival curve over user lifetimes: a user's
    duration is first-event → last-event (days); users still active
    within {censor} days of study end are right-CENSORED (their churn
    is unobserved), the rest are churn events.  S(t) = Π_{{tᵢ≤t}}
    (1 − dᵢ/nᵢ) with the standard K-M risk-set accounting — the
    product-limit estimator behind every retention curve, composing
    with ``retention_cohorts`` / ``events_user_lifecycle``.

    Scale shape: the corpus collapses once to one row per USER (min/max
    ts aggregate), then to one row per distinct DURATION day — bounded
    by the calendar span, not the data — so the cumulative windows run
    on a tiny table (guarded single-partition is fine: calendar-bounded
    cardinality).  The product becomes exp of a cumulative sum of
    per-day ``ln(1 − d/n)`` quantized to integer micro-units, so the
    running sum is order-independent BIGINT arithmetic and the curve
    hash-matches DuckDB bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    study = e.agg(F.max(F.col("ts").cast("date")).alias("study_end"))
    users = (
        e.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
        )
        .crossJoin(F.broadcast(study))
        .select(
            "user_id",
            F.datediff("last_d", "first_d").alias("duration"),
            (F.datediff("study_end", "last_d") > _KM_CENSOR_DAYS).alias("churned"),
        )
    )
    n_users = users.agg(F.count(F.lit(1)).alias("n_total"))
    per_day = users.groupBy(F.col("duration").alias("day")).agg(
        F.count_if(F.col("churned")).alias("n_events"),
        F.count_if(~F.col("churned")).alias("n_censored"),
    )
    w_prev = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = per_day.crossJoin(F.broadcast(n_users)).select(
        "day",
        "n_events",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    lsm_row = F.when(
        F.col("n_events") > 0,
        F.round(
            F.log(1 - F.col("n_events").cast("double") / F.col("n_risk")) * 1000000,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        risk.withColumn("lsm", F.sum(lsm_row).over(w_cum).cast("long"))
        .select(
            "day",
            "n_risk",
            "n_events",
            "n_censored",
            F.round(F.exp(F.col("lsm").cast("double") / 1000000), 6).alias(
                "survival"
            ),
        )
        .orderBy("day")
    )


events_survival_kaplan_meier.__doc__ = events_survival_kaplan_meier.__doc__.format(
    censor=_KM_CENSOR_DAYS
)


# --------------------------------------------------------------------------
# Matryoshka truncation audit: recall of truncated-dim vs full-dim top-k
# --------------------------------------------------------------------------

_MRL_DIM = 16  # truncated prefix length audited against the full 64 dims
_MRL_K = 10


@register(
    "emb_matryoshka_audit",
    tags=("llm", "similarity", "embedding", "matryoshka", "audit"),
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
fulln AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
  FROM base
),
truncn AS (
  SELECT vec_id,
         list_transform(w, x -> x / sqrt(list_dot_product(w, w))) AS vn
  FROM (SELECT vec_id, v[1:{_MRL_DIM}] AS w FROM base)
),
full_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.vn, c.vn), 6) DESC, c.vec_id
           ) AS rnk
    FROM fulln q JOIN fulln c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 16
  ) WHERE rnk <= {_MRL_K}
),
trunc_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.vn, c.vn), 6) DESC, c.vec_id
           ) AS rnk
    FROM truncn q JOIN truncn c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 16
  ) WHERE rnk <= {_MRL_K}
)
SELECT f.query_id,
       COUNT(t.neighbor_id) AS n_overlap,
       ROUND(COUNT(t.neighbor_id)::DOUBLE / {_MRL_K}, 6) AS recall_at_{_MRL_K}
FROM full_topk f
LEFT JOIN trunc_topk t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
""",
)
def emb_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation audit (Kusupati et al. 2022 shape): how
    much exact top-{k} cosine recall survives when the 64-dim
    embeddings are truncated to their first {dim} dims and
    re-normalized — the measurement a team makes before switching ANN
    search to a cheaper embedding prefix (MRL-trained models keep this
    high; the audit says whether THESE vectors do).

    Scale shape: two brute-force passes (full-dim and truncated) of a
    BOUNDED broadcast query set (16 queries) against one corpus scan
    each — the corpus never shuffles; the truncated pass reads {dim}/64
    of the vector bytes, which is the point of MRL at serving time.
    Both rankings quantize cosine to 6 decimals with an id tiebreak
    (the ``sim_topk_bruteforce`` contract), so top-k membership — and
    therefore the integer overlap counts — are bit-stable across
    engines; recall is one exact integer division."""
    e = load_table(spark, sf_dir, "embeddings")
    qfilter = F.col("vec_id") < 16
    full = topk_bruteforce(e, e.filter(qfilter), k=_MRL_K)
    trunc_e = e.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding")
    )
    trunc = topk_bruteforce(trunc_e, trunc_e.filter(qfilter), k=_MRL_K)
    overlap = full.select("query_id", "neighbor_id").join(
        trunc.select(
            F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid")
        ),
        (F.col("t_qid") == F.col("query_id"))
        & (F.col("t_nid") == F.col("neighbor_id")),
        "left",
    )
    return (
        overlap.groupBy("query_id")
        .agg(
            F.count("t_nid").alias("n_overlap"),
            F.round(F.count("t_nid").cast("double") / _MRL_K, 6).alias(
                f"recall_at_{_MRL_K}"
            ),
        )
        .orderBy("query_id")
    )


emb_matryoshka_audit.__doc__ = emb_matryoshka_audit.__doc__.format(
    k=_MRL_K, dim=_MRL_DIM
)


# --------------------------------------------------------------------------
# NB langid STREAMING admission: batch twin + pruned-model trainer
# --------------------------------------------------------------------------

_NB_CAP = 65536  # pruned-model size cap (fastText-style prune; never binds here)


def _train_nb_langid(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, int], dict[str, int], dict[str, int], int]:
    """Train the pruned NB language model on the even-doc_id corpus
    half.  Returns ((lang|token) counts, lang token totals, lang
    quantized log-priors, vocab size).  All driver round-trips are
    (classes × vocabulary)-bounded (Heaps' law) with an explicit
    {cap}-entry prune — the same dimension-sized-state stance as the
    bigram-LM trainer (`plans/lm._train_bigram_lm`) and the k-means
    centroid collects."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    toks = d.select("lang", tokens(F.col("text")).alias("t"))
    clt_df = (
        toks.select("lang", F.explode("t").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint(eager=True)  # consumed by both the prune and the totals
    # ONE unioned collect replaces the former FOUR driver actions
    # (clt top-N, per-lang totals, vocab count, per-lang doc counts):
    # each leg keeps its exact former plan, tagged and stacked so the
    # driver round-trips once.  Rows stay (classes × vocab)-bounded:
    # ≤ cap + 2·langs + 1.
    leg_clt = (
        clt_df.orderBy(F.desc("c"), "lang", "tok")
        .limit(_NB_CAP)
        .select(
            F.lit("clt").alias("k"),
            "lang",
            "tok",
            F.col("c").cast("long").alias("n"),
        )
    )
    leg_cl = (
        clt_df.groupBy("lang")
        .agg(F.sum("c").cast("long").alias("n_tok"))
        .select(
            F.lit("cl").alias("k"),
            "lang",
            F.lit(None).cast("string").alias("tok"),
            F.col("n_tok").alias("n"),
        )
    )
    leg_v = clt_df.agg(
        F.countDistinct("tok").cast("long").alias("v")
    ).select(
        F.lit("v").alias("k"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("tok"),
        F.col("v").alias("n"),
    )
    leg_prior = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            F.lit("prior").alias("k"),
            "lang",
            F.lit(None).cast("string").alias("tok"),
            F.col("n_docs").alias("n"),
        )
    )
    rows = (
        leg_clt.unionByName(leg_cl)
        .unionByName(leg_v)
        .unionByName(leg_prior)
        .collect()
    )
    clt = {f"{r.lang}|{r.tok}": r.n for r in rows if r.k == "clt"}
    cl = {r.lang: r.n for r in rows if r.k == "cl"}
    v = int(next(r.n for r in rows if r.k == "v"))
    prior_rows = [r for r in rows if r.k == "prior"]
    total = sum(r.n for r in prior_rows)
    import math

    def _round_half_away(x: float) -> int:
        # SQL ROUND semantics (half away from zero), NOT Python's
        # banker's rounding — keeps the driver-side prior bit-aligned
        # with the oracle's ROUND(LN(...)*1e6, 0).
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    prior_lpm = {
        r.lang: _round_half_away(math.log(r.n / total) * 1000000)
        for r in prior_rows
    }
    return clt, cl, prior_lpm, v


_train_nb_langid.__doc__ = _train_nb_langid.__doc__.format(cap=_NB_CAP)


@register(
    "stream_langid_admission",
    tags=("streaming", "llm", "classifier", "langid", "admission"),
    oracle=f"""
WITH train AS (SELECT lang, text FROM documents WHERE doc_id % 2 = 0),
tt AS (SELECT lang, unnest({_SQL_TOKS}) AS tok FROM train),
clt AS (
  SELECT lang, tok, COUNT(*) AS c FROM tt GROUP BY lang, tok
  QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, lang, tok) <= {_NB_CAP}
),
cl AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok
  FROM (SELECT lang, tok, COUNT(*) AS c FROM tt GROUP BY lang, tok)
  GROUP BY lang
),
v AS (SELECT COUNT(DISTINCT tok) AS v FROM tt),
prior AS (
  SELECT lang,
         CAST(ROUND(LN(COUNT(*)::DOUBLE
                       / (SELECT COUNT(*) FROM train)) * 1000000, 0)
              AS BIGINT) AS prior_lpm
  FROM train GROUP BY lang
),
arriving AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents WHERE doc_id % 2 = 1
),
at AS (SELECT doc_id, unnest(t) AS tok FROM arriving),
scored AS (
  SELECT a.doc_id, p.lang,
         CAST(SUM(CAST(ROUND(LN(
                 (COALESCE(c.c, 0) + 1)::DOUBLE / (cl.n_tok + v.v)::DOUBLE)
               * 1000000, 0) AS BIGINT)) AS BIGINT)
           + ANY_VALUE(p.prior_lpm) AS score
  FROM at a
  CROSS JOIN prior p
  JOIN cl ON cl.lang = p.lang
  CROSS JOIN v
  LEFT JOIN clt c ON c.lang = p.lang AND c.tok = a.tok
  GROUP BY a.doc_id, p.lang
),
pick AS (
  SELECT doc_id, lang AS predicted, score AS score_micro
  FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, lang) = 1
)
SELECT ar.doc_id, len(ar.t) AS n_tokens, pk.predicted, pk.score_micro,
       pk.predicted = 'en' AS admitted
FROM arriving ar JOIN pick pk ON pk.doc_id = ar.doc_id
ORDER BY ar.doc_id
""",
)
def stream_langid_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LANGUAGE-ID-gated streaming admission
    pipeline (``streaming/admission.nb_langid_columns``): even-doc_id
    documents play the existing corpus (the pruned NB model is trained
    on them, ``_train_nb_langid``), odd-doc_id documents play the
    arriving stream, each scored PER-ROW by the map-side classifier
    expression — per-token log-likelihoods quantized to integer
    micro-units in-row, per-class BIGINT sums + quantized prior,
    argmax (score DESC, lang ASC) via an array_min over (−score, lang)
    structs.  Documents predicted English are admitted — the fastText
    langid gate running at ingest rates: completely stateless, no
    state store, no watermark, no join in the hot path (the model
    ships to workers as a literal, exactly like a fastText .bin
    artifact).  Stream ≡ batch asserted in
    tests/test_streaming_multimodal.py::
    test_stream_langid_admission_equals_batch."""
    from ..streaming.admission import nb_langid_columns

    clt, cl, prior_lpm, v = _train_nb_langid(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    return nb_langid_columns(
        d.select("doc_id", "text"), clt, cl, prior_lpm, v, admit_lang="en"
    ).orderBy("doc_id")
