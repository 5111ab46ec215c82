"""Sketch + corpus-quality depth, round 6: a fully RELATIONAL
HyperLogLog (mergeable registers, integer-exact estimate), the
published Gopher quality-rule panel, and per-language tokenizer
fertility.

``sketch_hll_relational`` upgrades the HLL family: Spark's
``approx_count_distinct`` (`agg_approx_distinct`) is engine-internal
(rows-only check), and `agg_hll_sketch_union` merges opaque binary
sketches — this variant builds the registers AS A TABLE (the
``sketch_count_min_heavy_hitters`` stance), so the estimate is
bit-identical cross-engine and the merge (register MAX ≡ term MIN) is
an ordinary grouped aggregation any engine can run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_STOPWORDS,
    bpe_token_count,
    stopword_hits,
    token_count,
    tokens,
)
from ..operators.dedup import hash_int60
from ..sources.tables import load_table
from .llm_text import _SQL_BPE, _SQL_TOKENS as _SQL_TOKS
from .registry import register

_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_SQL_NTOK = f"len({_SQL_TOKS})"

# ------------------------------------------------------- relational HLL

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
_HLL_WBITS = 52  # 60-bit hash minus 8 bucket bits
# alpha_m · m² · 2^53 as ONE shared double literal (python-computed repr
# embedded identically in both engines; 2^53 is the integer scale of the
# register-term sum below)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_NUM = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53))
_HLL_LC_CUT = repr(2.5 * _HLL_M)  # linear-counting switchover


def _hll_term_case(w: str) -> str:
    """rho→term CASE chain shared verbatim by Spark (F.expr) and DuckDB:
    term = 2^(53 − rho) where rho = leading-zero count of the 52-bit
    hash remainder + 1 (w = 0 → rho = 53 → term = 1).  A generated
    52-arm integer CASE — no log2/bit_length, whose floating rounding
    could disagree at power-of-two boundaries (the Zipf octave-chain
    stance: comparisons and literals only)."""
    arms = []
    for rho in range(1, _HLL_WBITS + 1):
        thresh = 1 << (_HLL_WBITS - rho)
        term = 1 << (53 - rho)
        arms.append(f"WHEN {w} >= {thresh} THEN CAST({term} AS BIGINT)")
    return "CASE " + " ".join(arms) + " ELSE CAST(1 AS BIGINT) END"


_SQL_HLL_EST = f"""
CASE WHEN {_HLL_NUM} / z_int <= {_HLL_LC_CUT} AND zeros > 0
     THEN ROUND({_HLL_M}.0 * LN({_HLL_M}.0 / zeros), 6)
     ELSE ROUND({_HLL_NUM} / z_int, 6) END"""


@register(
    "sketch_hll_relational",
    tags=("sketch", "hll", "distinct", "mergeable"),
    oracle=f"""
WITH hashed AS (
  SELECT event_type,
         ({_SQL_H60.format(x="'hll:' || CAST(user_id AS VARCHAR)")})
           % {_HLL_M} AS bucket,
         ({_SQL_H60.format(x="'hll:' || CAST(user_id AS VARCHAR)")})
           // {_HLL_M} AS w
  FROM events
),
reg AS (
  SELECT event_type, bucket, MIN({_hll_term_case("w")}) AS term
  FROM hashed GROUP BY event_type, bucket
),
per_type AS (
  SELECT event_type,
         CAST(SUM(term) + ({_HLL_M} - COUNT(*)) * {1 << 53} AS BIGINT)
           AS z_int,
         {_HLL_M} - COUNT(*) AS zeros
  FROM reg GROUP BY event_type
),
union_reg AS (
  SELECT bucket, MIN(term) AS term FROM reg GROUP BY bucket
),
union_row AS (
  SELECT '__union__' AS event_type,
         CAST(SUM(term) + ({_HLL_M} - COUNT(*)) * {1 << 53} AS BIGINT)
           AS z_int,
         {_HLL_M} - COUNT(*) AS zeros
  FROM union_reg
),
exact_t AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
  FROM events GROUP BY event_type
),
exact_u AS (
  SELECT '__union__' AS event_type, COUNT(DISTINCT user_id) AS n_exact
  FROM events
),
allrows AS (
  SELECT p.event_type, e.n_exact, p.zeros, p.z_int
  FROM per_type p JOIN exact_t e ON e.event_type = p.event_type
  UNION ALL
  SELECT u.event_type, x.n_exact, u.zeros, u.z_int
  FROM union_row u CROSS JOIN exact_u x
)
SELECT event_type, n_exact, zeros, z_int,
       {_SQL_HLL_EST} AS hll_estimate,
       ROUND(({_SQL_HLL_EST} - n_exact) / n_exact, 6) AS rel_err
FROM allrows ORDER BY event_type
""",
)
def sketch_hll_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL HyperLogLog (Flajolet et al. 2007): per-event-type
    distinct-user estimates from an m = 256 register TABLE plus the
    union estimate obtained by MERGING registers (term MIN ≡ rho MAX
    per bucket) — no second pass over raw events, and unlike the
    engine-opaque `agg_hll_sketch_union` the registers are rows, so
    the sketch is storable, mergeable across days/partitions by any
    engine, and the estimate is oracle-checkable bit-for-bit.

    Exactness: bucket/remainder come from the md5-int60 hash (BIGINT
    mod / `div`); rho→term is a generated 52-arm integer CASE (term =
    2^(53−rho), so Z·2^53 = Σ terms stays BIGINT — max 256·2^53 <
    2^62); the raw estimate α·m²·2^53 / Z_int is one double division
    of a shared literal by an exact integer, and the small-range
    linear-counting branch m·ln(m/V) switches on the same exact
    integers — both rounded at 6 dp on both engines.

    Scale shape: one map-side expression per row, one (type, bucket)
    grouped MIN — partial aggregation makes the shuffle ≤ types × m
    rows regardless of fact count; the register merge and estimate
    arithmetic run on ≤ types·m rows.  The exact COUNT(DISTINCT)
    audit columns are the only user-cardinality-bounded stages (drop
    them in production; they exist to MEASURE the sketch error
    honestly, like `dedup_minhash_estimate_accuracy`)."""
    ev = load_table(spark, sf_dir, "events")
    h = hash_int60(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    hashed = ev.select("event_type", h.alias("h")).select(
        "event_type",
        (F.col("h") % _HLL_M).alias("bucket"),
        F.expr(f"h div {_HLL_M}").alias("w"),
    )
    reg = (
        hashed.select(
            "event_type", "bucket", F.expr(_hll_term_case("w")).alias("t")
        )
        .groupBy("event_type", "bucket")
        .agg(F.min("t").alias("term"))
    ).localCheckpoint(eager=True)  # ≤ types·m rows, feeds 2 branches
    z = F.sum("term") + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << 53)
    zeros = (F.lit(_HLL_M) - F.count(F.lit(1))).cast("long")
    per_type = reg.groupBy("event_type").agg(
        z.cast("long").alias("z_int"), zeros.alias("zeros")
    )
    union_row = (
        reg.groupBy("bucket")
        .agg(F.min("term").alias("term"))
        .agg(z.cast("long").alias("z_int"), zeros.alias("zeros"))
        .select(F.lit("__union__").alias("event_type"), "z_int", "zeros")
    )
    exact_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    exact_u = ev.agg(F.countDistinct("user_id").alias("n_exact")).select(
        F.lit("__union__").alias("event_type"), "n_exact"
    )
    allrows = (
        per_type.join(exact_t, "event_type")
        .select("event_type", "n_exact", "zeros", "z_int")
        .unionByName(
            union_row.join(exact_u, "event_type").select(
                "event_type", "n_exact", "zeros", "z_int"
            )
        )
    )
    est = F.expr(_SQL_HLL_EST)
    return allrows.select(
        "event_type",
        "n_exact",
        "zeros",
        "z_int",
        est.alias("hll_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_err"
        ),
    ).orderBy("event_type")


# -------------------------------------------------- Gopher quality rules

_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MWL_LO = "3.0e0"
_GOPHER_MWL_HI = "1.0e1"
_GOPHER_ALPHA_MIN = "8.0e-1"  # ≥80% of words contain a letter
_GOPHER_MIN_STOPWORDS = 2
_GOPHER_SYMBOL_MAX = "1.0e-1"  # (# + … occurrences) / words ≤ 0.1


@register(
    "docs_gopher_rules",
    tags=("llm", "text", "quality", "filter", "gopher"),
    oracle=f"""
WITH scored AS (
  SELECT source,
         {_SQL_NTOK} AS nw,
         CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g'))
              AS DOUBLE) / {_SQL_NTOK} AS mwl,
         CAST(len(list_filter({_SQL_TOKS}, w -> regexp_matches(w, '[a-z]')))
              AS DOUBLE) / {_SQL_NTOK} AS alpha_ratio,
         len(regexp_extract_all(lower(trim(text)),
             '\\b({"|".join(LANG_STOPWORDS["en"])})\\b')) AS stop_hits,
         CAST(len(regexp_extract_all(lower(trim(text)), '#|\\.\\.\\.'))
              AS DOUBLE) / {_SQL_NTOK} AS symbol_ratio
  FROM documents
),
flags AS (
  SELECT source,
         CASE WHEN nw BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
              THEN 0 ELSE 1 END AS f_words,
         CASE WHEN mwl >= {_GOPHER_MWL_LO} AND mwl <= {_GOPHER_MWL_HI}
              THEN 0 ELSE 1 END AS f_mwl,
         CASE WHEN alpha_ratio >= {_GOPHER_ALPHA_MIN} THEN 0 ELSE 1 END
           AS f_alpha,
         CASE WHEN stop_hits >= {_GOPHER_MIN_STOPWORDS} THEN 0 ELSE 1 END
           AS f_stop,
         CASE WHEN symbol_ratio <= {_GOPHER_SYMBOL_MAX} THEN 0 ELSE 1 END
           AS f_symbol
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(f_words) AS BIGINT) AS fail_word_count,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_ratio,
       CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
       CAST(SUM(f_symbol) AS BIGINT) AS fail_symbol_ratio,
       CAST(SUM(CASE WHEN f_words + f_mwl + f_alpha + f_stop + f_symbol = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN f_words + f_mwl + f_alpha + f_stop + f_symbol = 0
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate
FROM flags GROUP BY source ORDER BY source
""",
)
def docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published GOPHER quality-rule panel (Rae et al. 2021 §A1.1,
    the rule set C4/MassiveText-style corpus cleaning applies before
    model-based filtering): per-source counts of documents failing
    each rule — word count in [50, 100k], mean word length in [3, 10],
    ≥80% words containing a letter, ≥2 stopwords, symbol-to-word
    ratio ≤ 0.1 — plus the all-rules pass rate.  Complements
    `docs_quality_gate` (composite score) with the RULE-ATTRIBUTED
    breakdown a curation dashboard needs to see WHICH rule bites.

    Exactness: every rule flag is an integer comparison on exact
    token/char/match counts (thresholds are e-notation double
    literals, the round-3 typing gotcha); the only double is the
    final per-source pass rate.

    Scale shape: one map-side expression block per document, one
    grouped agg by source with map-side partials — no joins, no
    windows, shuffle ∝ sources."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    nw = token_count(t)
    norm = F.lower(F.trim(t))
    mwl = (
        F.length(F.regexp_replace(norm, r"\s+", "")).cast("double") / nw
    )
    alpha_ratio = (
        F.expr(
            "size(filter(split(lower(trim(text)), '\\\\s+'),"
            " w -> w rlike '[a-z]'))"
        ).cast("double")
        / nw
    )
    symbol_ratio = (
        F.size(F.regexp_extract_all(norm, F.lit(r"#|\.\.\."))).cast("double")
        / nw
    )
    f_words = (
        ~nw.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ).cast("int")
    f_mwl = ((mwl < 3.0) | (mwl > 10.0)).cast("int")
    f_alpha = (alpha_ratio < 0.8).cast("int")
    f_stop = (stopword_hits(t) < _GOPHER_MIN_STOPWORDS).cast("int")
    f_symbol = (symbol_ratio > 0.1).cast("int")
    flags = d.select(
        "source",
        f_words.alias("f_words"),
        f_mwl.alias("f_mwl"),
        f_alpha.alias("f_alpha"),
        f_stop.alias("f_stop"),
        f_symbol.alias("f_symbol"),
    )
    all_pass = (
        F.col("f_words")
        + F.col("f_mwl")
        + F.col("f_alpha")
        + F.col("f_stop")
        + F.col("f_symbol")
        == 0
    ).cast("int")
    return (
        flags.withColumn("pass", all_pass)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_words").cast("long").alias("fail_word_count"),
            F.sum("f_mwl").cast("long").alias("fail_mean_word_len"),
            F.sum("f_alpha").cast("long").alias("fail_alpha_ratio"),
            F.sum("f_stop").cast("long").alias("fail_stopwords"),
            F.sum("f_symbol").cast("long").alias("fail_symbol_ratio"),
            F.sum("pass").cast("long").alias("n_pass"),
            (F.sum("pass").cast("double") / F.count(F.lit(1))).alias(
                "pass_rate"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------- tokenizer fertility


@register(
    "text_tokenizer_fertility",
    tags=("llm", "text", "tokenizer", "fertility"),
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM({_SQL_NTOK}) AS BIGINT) AS n_words,
       CAST(SUM({_SQL_BPE}) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')))
         AS BIGINT) AS n_chars,
       CAST(SUM({_SQL_BPE}) AS DOUBLE) / SUM({_SQL_NTOK}) AS fertility,
       CAST(SUM(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')))
         AS DOUBLE) / SUM({_SQL_BPE}) AS chars_per_token
FROM documents
GROUP BY lang ORDER BY lang
""",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language: BPE-style tokens per
    whitespace word and characters per token — the fairness/cost audit
    multilingual-corpus teams run on a tokenizer (languages with high
    fertility pay more compute per word and get shorter effective
    context; cf. the tokenizer-parity analyses around GPT/BLOOM).
    Uses the repo's shared GPT-2-style pre-tokenization regex
    (`functions.text.bpe_tokens` — token-for-token identical in both
    engines), so this measures the SAME tokenizer `text_bpe_token_cost`
    prices.

    Exactness: three exact BIGINT sums per language; the two ratios
    are single double divisions of those sums.

    Scale shape: map-side token counting (no explode — counts only),
    one grouped agg by lang; repartitioned scan for single-file local
    parallelism (round-5 gotcha)."""
    d = load_table(spark, sf_dir, "documents").repartition(32)
    t = F.col("text")
    norm = F.lower(F.trim(t))
    chars = F.length(F.regexp_replace(norm, r"\s+", ""))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(t)).cast("long").alias("n_words"),
            F.sum(bpe_token_count(t)).cast("long").alias("n_bpe_tokens"),
            F.sum(chars).cast("long").alias("n_chars"),
            (
                F.sum(bpe_token_count(t)).cast("double")
                / F.sum(token_count(t))
            ).alias("fertility"),
            (
                F.sum(chars).cast("double") / F.sum(bpe_token_count(t))
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# -------------------------------------------- streaming HLL (batch twin)

_DAY_US = 86_400_000_000


@register(
    "stream_hll_distinct_daily",
    tags=("stream", "sketch", "hll", "distinct", "mergeable"),
    oracle=f"""
WITH hashed AS (
  SELECT make_timestamp((epoch_us(ts) // {_DAY_US}) * {_DAY_US})
           AS window_start,
         ({_SQL_H60.format(x="'hll:' || CAST(user_id AS VARCHAR)")})
           % {_HLL_M} AS bucket,
         ({_SQL_H60.format(x="'hll:' || CAST(user_id AS VARCHAR)")})
           // {_HLL_M} AS w,
         user_id
  FROM events
),
reg AS (
  SELECT window_start, bucket, MIN({_hll_term_case("w")}) AS term
  FROM hashed GROUP BY window_start, bucket
),
per_day AS (
  SELECT window_start,
         CAST(SUM(term) + ({_HLL_M} - COUNT(*)) * {1 << 53} AS BIGINT)
           AS z_int,
         {_HLL_M} - COUNT(*) AS zeros
  FROM reg GROUP BY window_start
),
exact_d AS (
  SELECT window_start, COUNT(DISTINCT user_id) AS n_exact
  FROM hashed GROUP BY window_start
)
SELECT p.window_start, e.n_exact, p.zeros, p.z_int,
       {_SQL_HLL_EST} AS hll_estimate
FROM per_day p JOIN exact_d e ON e.window_start = p.window_start
ORDER BY p.window_start
""",
)
def stream_hll_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-user counting via daily HLL registers —
    batch twin of ``streaming/sketches.run_hll_stream`` (stream ≡
    batch pinned by
    tests/test_streaming_multimodal.py::test_stream_hll_registers_equal_batch).
    The STREAM maintains only the (day, bucket) → term-MIN register
    table — a streaming-legal aggregate with watermark-bounded state ≤
    open-windows × m rows, NEVER ∝ distinct keys (the reason
    production pipelines stream sketches instead of COUNT(DISTINCT));
    the estimate is computed from stored registers at read time, which
    is what this registered query does, plus the exact audit column.

    Exactness: same integer register/term construction and estimate
    arithmetic as `sketch_hll_relational` (term CASE, BIGINT Z·2^53,
    linear-counting branch on exact integers).

    Scale shape: map-side hashing, one (day, bucket) grouped MIN with
    partial aggregation (shuffle ≤ days × m rows), day-grain estimate
    arithmetic; the COUNT(DISTINCT) audit is batch-side only."""
    from ..streaming.sketches import hll_daily_registers

    ev = load_table(spark, sf_dir, "events")
    reg = hll_daily_registers(
        ev, _HLL_M, _hll_term_case("w"), ordered=False
    )
    z = F.sum("term") + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << 53)
    zeros = (F.lit(_HLL_M) - F.count(F.lit(1))).cast("long")
    per_day = reg.groupBy("window_start").agg(
        z.cast("long").alias("z_int"), zeros.alias("zeros")
    )
    exact_d = ev.groupBy(
        F.window("ts", "1 day").alias("wnd")
    ).agg(F.countDistinct("user_id").alias("n_exact")).select(
        F.col("wnd.start").alias("window_start"), "n_exact"
    )
    est = F.expr(_SQL_HLL_EST)
    return (
        per_day.join(exact_d, "window_start")
        .select(
            "window_start",
            "n_exact",
            "zeros",
            "z_int",
            est.alias("hll_estimate"),
        )
        .orderBy("window_start")
    )


# ----------------------------------------------------- freshness SLA

_SLA_HOURS = 2  # per-type freshness SLA relative to warehouse high-water


@register(
    "dq_freshness_sla",
    tags=("dq", "freshness", "sla", "ops"),
    oracle=f"""
WITH hw AS (SELECT MAX(ts) AS wm FROM events),
per AS (
  SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n_rows
  FROM events GROUP BY event_type
)
SELECT p.event_type, p.n_rows, p.last_ts,
       date_diff('microsecond', p.last_ts, hw.wm) // 1000000
         AS lag_seconds,
       date_diff('microsecond', p.last_ts, hw.wm) // 1000000
         <= {_SLA_HOURS} * 3600 AS within_sla
FROM per p CROSS JOIN hw
ORDER BY p.event_type
""",
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-FRESHNESS SLA audit: per-stream lag behind the warehouse
    high-water mark, with a {h}-hour SLA flag — the first dashboard
    any ingestion on-call looks at (a stream whose MAX(ts) trails the
    others' indicates a stalled upstream; the SLA is measured against
    the warehouse's own high-water, not wall-clock, so the audit is
    reproducible and backfill-safe).

    Exactness: MAX over timestamps and an exact integer MICROSECOND
    difference floor-divided to seconds — Spark's timestampdiff(SECOND)
    counts complete seconds while DuckDB's date_diff('second') counts
    boundary crossings, so the second-grain forms disagree by one when
    the fractional parts straddle a boundary; the microsecond grain is
    exact on both.

    Scale shape: one grouped MAX with map-side partials (shuffle ∝
    types) plus a one-row high-water agg broadcast back — the same
    bounded-scalar pattern as `mining_churn_features`'s watermark
    row."""
    ev = load_table(spark, sf_dir, "events")
    hw = ev.agg(F.max("ts").alias("wm"))
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_rows")
    )
    lag = F.expr(
        "timestampdiff(MICROSECOND, last_ts, wm) div 1000000"
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(hw))
        .select(
            "event_type",
            "n_rows",
            "last_ts",
            lag.alias("lag_seconds"),
            (lag <= F.lit(_SLA_HOURS * 3600)).alias("within_sla"),
        )
        .orderBy("event_type")
    )


dq_freshness_sla.__doc__ = dq_freshness_sla.__doc__.format(h=_SLA_HOURS)


# ----------------------------------------------- AMS F2 (second moment)

_AMS_K = 16  # independent ±1 estimators (4 groups × 4 for mean-median)


@register(
    "sketch_ams_f2",
    tags=("sketch", "ams", "f2", "join-size", "mergeable"),
    oracle=f"""
WITH f AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS freq
  FROM events GROUP BY user_id
),
est AS (
  SELECT j.j,
         CAST(SUM((1 - 2 * (({_SQL_H60.format(
             x="'ams:' || CAST(j.j AS VARCHAR) || ':' || CAST(f.user_id AS VARCHAR)")})
             % 2)) * f.freq) AS BIGINT) AS z
  FROM f CROSS JOIN (SELECT unnest(generate_series(0, {_AMS_K - 1})) AS j) j
  GROUP BY j.j
),
x AS (
  SELECT j, CAST(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))
                 AS DECIMAL(38,0)) AS xj
  FROM est
),
grp AS (
  SELECT j // 4 AS g,
         CAST(SUM(xj) // 4 AS DECIMAL(38,0)) AS grp_mean
  FROM x GROUP BY j // 4
),
med AS (
  SELECT grp_mean,
         ROW_NUMBER() OVER (ORDER BY grp_mean, g) AS rk
  FROM grp
),
exact AS (
  SELECT CAST(SUM(CAST(freq AS DECIMAL(38,0))
               * CAST(freq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS f2
  FROM f
)
SELECT CAST(e.f2 AS BIGINT) AS f2_exact,
       CAST(m.grp_mean AS BIGINT) AS f2_estimate,
       {_AMS_K} AS n_estimators,
       ROUND(ABS(CAST(m.grp_mean AS DOUBLE) - CAST(e.f2 AS DOUBLE))
             / CAST(e.f2 AS DOUBLE), 6) AS rel_error
FROM med m CROSS JOIN exact e
WHERE m.rk = 2
""",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS SECOND-MOMENT sketch (Alon, Matias & Szegedy 1996): estimate
    F₂ = Σ_u f_u² of the per-user event frequencies — the
    SELF-JOIN-SIZE statistic a cost-based optimizer wants before
    picking a join strategy on a skewed key (companion to
    `sketch_join_size_estimate`'s cross-table estimate and
    `dq_key_skew_profile`'s exact census).  Each of the {k} estimators
    projects the frequency vector onto deterministic ±1 signs
    (1 − 2·(h60('ams:j:'||user) mod 2)) and squares the sum;
    median-of-means (4 groups × 4) tames the heavy-tailed estimator
    the classic way.  At stream/100 TB scale the {k} running Z_j sums
    are the ENTIRE state — mergeable across partitions and batches by
    addition, which is why this sketch (not the exact census) is the
    production shape.

    Exactness: signs and frequencies are integers, Z_j are BIGINT
    sums, squares and the group means are DECIMAL(38,0) (floor-divided
    by the group size — exact, order-free); the lower median (rank 2
    of 4) is an integer window pick; the only double is the final
    relative-error audit column.

    Scale shape: one grouped count to user grain, a bounded ×{k}
    explode (estimator axis), one {k}-group sum with map-side
    partials; everything after runs on {k} rows."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    f = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    js = spark.range(_AMS_K).select(F.col("id").cast("int").alias("j"))
    sign = 1 - 2 * (
        hash_int60(
            F.concat(
                F.lit("ams:"),
                F.col("j").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        )
        % 2
    )
    est = (
        f.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(F.sum(sign * F.col("freq")).cast("long").alias("z"))
    )
    x = est.select(
        "j",
        F.expr(
            "CAST(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))"
            " AS DECIMAL(38,0))"
        ).alias("xj"),
    )
    grp = x.groupBy(F.expr("j div 4").alias("g")).agg(
        F.expr("CAST(SUM(xj) div 4 AS DECIMAL(38,0))").alias("grp_mean")
    )
    med = grp.withColumn(
        "rk", F.row_number().over(Window.orderBy("grp_mean", "g"))
    ).filter(F.col("rk") == 2)
    exact = f.agg(
        F.expr(
            "CAST(SUM(CAST(freq AS DECIMAL(38,0)) * CAST(freq AS"
            " DECIMAL(38,0))) AS DECIMAL(38,0))"
        ).alias("f2")
    )
    return med.crossJoin(F.broadcast(exact)).select(
        F.col("f2").cast("long").alias("f2_exact"),
        F.col("grp_mean").cast("long").alias("f2_estimate"),
        F.lit(_AMS_K).alias("n_estimators"),
        F.round(
            F.abs(
                F.col("grp_mean").cast("double") - F.col("f2").cast("double")
            )
            / F.col("f2").cast("double"),
            6,
        ).alias("rel_error"),
    )


sketch_ams_f2.__doc__ = sketch_ams_f2.__doc__.format(k=_AMS_K)


@register(
    "stream_ams_f2_daily",
    tags=("stream", "sketch", "ams", "f2", "mergeable"),
    oracle=f"""
WITH fan AS (
  SELECT make_timestamp((epoch_us(ts) // {_DAY_US}) * {_DAY_US})
           AS window_start,
         j.j,
         1 - 2 * (({_SQL_H60.format(
             x="'ams:' || CAST(j.j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")})
             % 2) AS s
  FROM events
  CROSS JOIN (SELECT unnest(generate_series(0, {_AMS_K - 1})) AS j) j
),
z AS (
  SELECT window_start, j, CAST(SUM(s) AS BIGINT) AS z
  FROM fan GROUP BY window_start, j
),
x AS (
  SELECT window_start, j,
         CAST(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))
              AS DECIMAL(38,0)) AS xj
  FROM z
),
grp AS (
  SELECT window_start, j // 4 AS g,
         CAST(SUM(xj) // 4 AS DECIMAL(38,0)) AS gm
  FROM x GROUP BY window_start, j // 4
),
med AS (
  SELECT window_start, gm,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY gm, g) AS rk
  FROM grp
),
perday AS (
  SELECT make_timestamp((epoch_us(ts) // {_DAY_US}) * {_DAY_US})
           AS window_start,
         user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
exact AS (
  SELECT window_start,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
              AS BIGINT) AS f2_exact
  FROM perday GROUP BY window_start
)
SELECT m.window_start, e.f2_exact,
       CAST(m.gm AS BIGINT) AS f2_estimate,
       ROUND(ABS(CAST(m.gm AS DOUBLE) - CAST(e.f2_exact AS DOUBLE))
             / CAST(e.f2_exact AS DOUBLE), 6) AS rel_error
FROM med m JOIN exact e ON e.window_start = m.window_start
WHERE m.rk = 2
ORDER BY m.window_start
""",
)
def stream_ams_f2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING second-moment monitoring via daily AMS sums — batch
    twin of ``streaming/sketches.run_ams_stream`` (stream ≡ batch
    pinned by tests/test_streaming_multimodal.py::
    test_stream_ams_sums_equal_batch): the STREAM maintains only the
    (day, estimator) → Σ±1 table — a streaming-legal SUM with state
    ≤ open-windows × {k} rows at ANY event rate or key cardinality
    (the reason a daily skew/self-join-size monitor streams the AMS
    state, never the per-key census) — and this registered twin
    computes the read-time estimate (square → floor-divided group
    means → lower median) from the stored sums, with the exact per-day
    F₂ as the audit column.

    Exactness: signs at EVENT grain sum per day to the
    frequency-weighted Σ s·f of ``sketch_ams_f2``'s user-grain
    formulation (same hash spec — the identity that makes the stream
    and the warehouse sketch interchangeable); all state and estimate
    arithmetic is BIGINT/DECIMAL with the one double audit ratio.

    Scale shape: map-side ×{k} estimator fan-out, one (day, j) grouped
    SUM with partial aggregation (shuffle ≤ days × {k} rows); the
    estimate windows run over {k}-row per-day groups; the exact audit
    is batch-side only (per-(day, user) grouped count)."""
    from ..streaming.sketches import ams_daily_sums
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    z = ams_daily_sums(ev, ordered=False)
    x = z.select(
        "window_start",
        "j",
        F.expr(
            "CAST(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))"
            " AS DECIMAL(38,0))"
        ).alias("xj"),
    )
    grp = x.groupBy(
        "window_start", F.expr("j div 4").alias("g")
    ).agg(F.expr("CAST(SUM(xj) div 4 AS DECIMAL(38,0))").alias("gm"))
    med = grp.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("window_start").orderBy("gm", "g")
        ),
    ).filter(F.col("rk") == 2)
    perday = ev.groupBy(
        F.window("ts", "1 day").alias("wnd"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    exact = (
        perday.select(
            F.col("wnd.start").alias("window_start"),
            F.expr(
                "CAST(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))"
                " AS DECIMAL(38,0))"
            ).alias("cc"),
        )
        .groupBy("window_start")
        .agg(F.sum("cc").cast("long").alias("f2_exact"))
    )
    return (
        med.join(exact, "window_start")
        .select(
            "window_start",
            "f2_exact",
            F.col("gm").cast("long").alias("f2_estimate"),
            F.round(
                F.abs(
                    F.col("gm").cast("double")
                    - F.col("f2_exact").cast("double")
                )
                / F.col("f2_exact").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("window_start")
    )


stream_ams_f2_daily.__doc__ = stream_ams_f2_daily.__doc__.format(k=_AMS_K)


# -------------------------------------- Misra-Gries / SpaceSaving top-k

_MG_BUCKETS = 32  # partition fan-out of the distributed summary
_MG_K = 8  # counters per bucket
_MG_TOP = 10  # reported heavy hitters


@register(
    "sketch_misra_gries_topk",
    tags=("sketch", "heavy-hitters", "misra-gries", "mergeable"),
    oracle=f"""
WITH f AS (
  SELECT user_id,
         ({_SQL_H60.format(x="'mg:' || CAST(user_id AS VARCHAR)")})
           % {_MG_BUCKETS} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
thresh AS (
  SELECT b,
         COALESCE(MAX(CASE WHEN rk = {_MG_K + 1} THEN c END),
                  CAST(0 AS BIGINT)) AS t
  FROM (
    SELECT b, c,
           ROW_NUMBER() OVER (PARTITION BY b ORDER BY c DESC, user_id)
             AS rk
    FROM f
  ) GROUP BY b
),
summary AS (
  SELECT f.user_id, f.c - t.t AS est, f.c AS true_n, t.t
  FROM f JOIN thresh t USING (b)
  WHERE f.c > t.t
),
bound AS (SELECT CAST(SUM(t) AS BIGINT) AS global_slack FROM thresh)
SELECT user_id, est AS est_count, true_n AS true_count,
       true_n - est AS underestimate,
       (SELECT global_slack FROM bound) AS max_possible_underestimate,
       rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY est DESC, user_id) AS rk
  FROM summary
) WHERE rk <= {_MG_TOP}
ORDER BY rk
""",
)
def sketch_misra_gries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISRA-GRIES / SpaceSaving heavy hitters — the counter-based
    sketch next to Count-Min (``sketch_count_min_heavy_hitters``):
    each of {buckets} hash buckets keeps a {k}-counter summary, built
    here from the bucket's exact frequencies by the threshold form of
    the MG invariant — subtract the (k+1)-th largest count t_b from
    everything and keep the survivors.  That form is ORDER-INDEPENDENT
    (unlike the streaming one-pass update), so the summary is
    deterministic, MERGEABLE by addition, and carries the classic
    guarantee: each kept estimate underestimates its true count by at
    most t_b ≤ N_b/(k+1), and Σ t_b bounds the global underestimate —
    the bound is EMITTED next to the audit columns (true count and the
    actual underestimate), which is what makes the sketch trustworthy
    enough to act on.

    Exactness: hash bucketing is the shared md5 primitive; counts,
    thresholds, estimates and bounds are all BIGINT — fully
    oracle-exact (unlike CM/AMS there is no probabilistic noise in
    this construction, only the documented threshold loss).

    Scale shape: one (user) grouped count (map-side partials); the
    (k+1)-rank is a window PARTITIONED by bucket ({buckets} bounded
    groups); the survivor set is ≤ {buckets}·{k} rows, so the global
    top-{top} rank runs on a constant-size frame.  At 100 TB the
    per-bucket summaries are what the executors ship — {k} counters
    each, the whole point of MG."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    f = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).withColumn(
        "b",
        hash_int60(F.concat(F.lit("mg:"), F.col("user_id").cast("string")))
        % _MG_BUCKETS,
    )
    w_b = Window.partitionBy("b").orderBy(F.desc("c"), "user_id")
    ranked = f.withColumn("rk", F.row_number().over(w_b))
    thresh = ranked.groupBy("b").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == _MG_K + 1, F.col("c"))),
            F.lit(0).cast("long"),
        ).alias("t")
    )
    summary = (
        f.join(thresh, "b")
        .filter(F.col("c") > F.col("t"))
        .select(
            "user_id",
            (F.col("c") - F.col("t")).alias("est"),
            F.col("c").alias("true_n"),
            "t",
        )
    )
    bound = thresh.agg(F.sum("t").cast("long").alias("global_slack"))
    w_g = Window.orderBy(F.desc("est"), "user_id")
    return (
        summary.crossJoin(F.broadcast(bound))
        .withColumn("rk", F.row_number().over(w_g))
        .filter(F.col("rk") <= _MG_TOP)
        .select(
            "user_id",
            F.col("est").alias("est_count"),
            F.col("true_n").alias("true_count"),
            (F.col("true_n") - F.col("est")).alias("underestimate"),
            F.col("global_slack").alias("max_possible_underestimate"),
            "rk",
        )
        .orderBy("rk")
    )


sketch_misra_gries_topk.__doc__ = sketch_misra_gries_topk.__doc__.format(
    buckets=_MG_BUCKETS, k=_MG_K, top=_MG_TOP
)


# ------------------------------------------------------- KMV distinct

_KMV_K = 8
_KMV_BUCKETS = 16
_KMV_2P60 = "1152921504606846976e0"  # 2^60 as an exact double literal


@register(
    "sketch_kmv_distinct",
    tags=("sketch", "kmv", "distinct", "agg"),
    oracle=f"""
WITH d AS (
  SELECT DISTINCT event_type,
         {_SQL_H60.format(x="user_id::VARCHAR")} AS h60
  FROM events
),
rk AS (
  SELECT event_type, h60,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h60) AS rk
  FROM d
),
hk AS (SELECT event_type, h60 AS h_k FROM rk WHERE rk = {_KMV_K}),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT ex.event_type, ex.exact_distinct,
  ROUND(({_KMV_K} - 1) * {_KMV_2P60} / hk.h_k, 4) AS kmv_estimate,
  ROUND(ABS(({_KMV_K} - 1) * {_KMV_2P60} / hk.h_k - ex.exact_distinct)
        / ex.exact_distinct, 4) AS rel_err
FROM ex JOIN hk USING (event_type)
ORDER BY ex.event_type
""",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MINIMUM-VALUES distinct sketch (Bar-Yossef et al.), ORACLE-
    EXACT — the sketch the HLL family can't oracle-check becomes
    checkable when the hash is the shared md5 primitive: per event
    type, the k={k} smallest distinct 60-bit user hashes give the
    estimate (k−1)·2⁶⁰/h₍ₖ₎, reported next to the exact distinct count
    and the relative error (which shrinks as groups grow with scale —
    the audit shape of ``dq_approx_vs_exact_quantiles``).

    Scale shape: the k-smallest extraction is the BUCKETED two-stage
    rank (the ``bucketed_global_rank`` discipline): stage 1 ranks
    within (group, h60 % {b}) buckets and keeps ≤ k per bucket, so no
    window ever sorts a whole group; stage 2 ranks the ≤ {b}·k
    survivors per group.  On a cluster the stage-1 partials are
    exactly a KMV sketch merge: each partition's k smallest values,
    combined by a k-smallest-of-unions — mergeable like every sketch
    here."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    d = (
        e.select(
            "event_type", hash_int60(F.col("user_id").cast("string")).alias("h60")
        )
        .distinct()
        .withColumn("_b", F.pmod(F.col("h60"), F.lit(_KMV_BUCKETS)))
    )
    w1 = Window.partitionBy("event_type", "_b").orderBy("h60")
    w2 = Window.partitionBy("event_type").orderBy("h60")
    hk = (
        d.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= _KMV_K)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") == _KMV_K)
        .select("event_type", F.col("h60").alias("h_k"))
    )
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.lit(float(_KMV_K - 1)) * F.lit(1152921504606846976.0) / F.col(
        "h_k"
    ).cast("double")
    return (
        ex.join(hk, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.round(est, 4).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


sketch_kmv_distinct.__doc__ = sketch_kmv_distinct.__doc__.format(
    k=_KMV_K, b=_KMV_BUCKETS
)
