"""Deduplication operators for the LLM-data-pipeline surface
(BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Every stage is relational (explode → join → group) so it scales as
ordinary shuffles; the only parameters are hash constants, all derived
deterministically (md5 → integer) so a DuckDB oracle can reproduce the
exact same signatures.

Scale design:
- candidate generation is always *banded* (LSH bands / simhash bands):
  no O(n²) pair enumeration at scale; pairs only form inside a bucket.
- signatures are fixed-width columns, not variable blobs — shuffle-
  friendly and cheap to band.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_fingerprint, shingles, tokens

__all__ = [
    "MINHASH_PRIME",
    "MAX_DF_FLOOR",
    "MAX_DF_FRAC_DEN",
    "minhash_params",
    "hash_int60",
    "exact_dedup_groups",
    "shingle_table",
    "positioned_shingle_table",
    "exact_substring_spans",
    "repeated_spans_within_doc",
    "span_coverage",
    "union_intervals",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "banded_signatures",
    "rowwise_minhash_bands",
    "minhash_candidate_pairs",
    "simhash",
    "simhash_near_pairs",
    "banded_hamming_pairs",
]

# Mersenne prime 2^31−1: keeps a·(h mod p)+b < 2^62 — no int64 overflow
# in either engine, so the arithmetic is bit-identical cross-engine.
MINHASH_PRIME = (1 << 31) - 1

# Hot-shingle (stop-shingle) document-frequency cap: a shingle present in
# more than max(MAX_DF_FLOOR, n_docs // MAX_DF_FRAC_DEN) documents is
# dropped from the representation BEFORE any self-join.  Rationale: the
# inverted-index join produces O(df²) candidate rows per shingle, so a
# stop-word trigram with df ~ n is a quadratic blowup at 100 TB — and it
# carries no discriminative signal anyway.  Integer-only arithmetic
# (floor division) so the DuckDB oracle mirror is bit-identical:
# ``(SELECT GREATEST(50, COUNT(*) // 100) FROM documents)``.
MAX_DF_FLOOR = 50
MAX_DF_FRAC_DEN = 100  # cap scales as 1% of the corpus


def minhash_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation — small fixed odd multipliers,
    no RNG (reproducible across engines/sessions by construction)."""
    return [(2 * i + 3, 7 * i + 1) for i in range(n)]


def hash_int60(col: Column) -> Column:
    """First 15 hex digits of md5 as a 60-bit non-negative int64 — the
    shared cross-engine string→int hash primitive
    (DuckDB mirror: ``('0x' || substr(md5(x),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized md5 fingerprint;
    keeps the min doc_id as survivor.  One shuffle on a 32-char key."""
    return (
        docs.select(
            "doc_id", md5_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("survivor_doc_id"),
        )
    )


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    *,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """(doc_id, shingle) long table of distinct word k-grams, with
    hot-shingle removal.

    ``max_df`` — the document-frequency cap:

    - ``"auto"`` (default): ``max(MAX_DF_FLOOR, n_docs // MAX_DF_FRAC_DEN)``
      — shingles in more than 1% of the corpus (floor 50) are dropped.
      The corpus size enters as a broadcast one-row aggregate (scalar-
      subquery pattern), the per-shingle df as a single count-window
      over the exploded table — one shuffle on ``shingle``, no join.
    - an ``int``: explicit cap.
    - ``None``: uncapped (the raw inverted index; only safe when the
      vocabulary is known to be skew-free).

    Recall effect of capping: a pair of documents whose overlap lies
    ONLY in dropped stop-shingles loses candidacy, and similarity
    scores are computed over the capped representation (slightly
    different from raw Jaccard).  That is the intended semantics —
    shingles shared by >1% of a corpus identify boilerplate, not
    duplication.  Measured on a skewed corpus (one shingle with
    df ≈ n) in ``tests/test_dedup_recall.py``."""
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )
    if max_df is None:
        return sh
    df_col = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    if max_df == "auto":
        n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
        cap = F.greatest(
            F.lit(MAX_DF_FLOOR).cast("long"),
            F.floor(F.col("n_docs") / F.lit(MAX_DF_FRAC_DEN)),
        )
        return (
            sh.withColumn("df", df_col)
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") <= cap)
            .select("doc_id", "shingle")
        )
    return (
        sh.withColumn("df", df_col)
        .filter(F.col("df") <= F.lit(int(max_df)))
        .select("doc_id", "shingle")
    )


def positioned_shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    *,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """(doc_id, pos, shingle) — ALL word-k-gram occurrences with their
    1-based start-token position.  Unlike :func:`shingle_table` this is
    NOT distinct (position matters: the same shingle at two positions
    is two rows) — it is the relational stand-in for a suffix array,
    the base table for exact-substring dedup.

    Same zipped-slice construction as ``functions.text.shingles`` (the
    per-index ``element_at`` formulation measured ~40× slower); docs
    shorter than ``k`` tokens contribute no rows.

    ``max_df`` semantics: for the positioned table the cap counts
    total OCCURRENCES per shingle (``count(*) over shingle``), not
    distinct docs — occurrences are what bound the O(occ²) self-join a
    downstream matcher runs, and a boilerplate k-gram repeated 10⁶
    times in one doc is exactly as toxic as one spread over 10⁶ docs.
    Dropping a hot seed splits (or shortens) any span that crosses it
    — the documented recall trade, measured in
    ``tests/test_dedup_recall.py``."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    length = n - (k - 1)
    grams = F.slice(toks, 1, length)
    for j in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, length),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    arr = F.when(n >= k, grams).otherwise(
        F.array().cast("array<string>")
    )
    ps = docs.select(
        "doc_id", F.posexplode(arr).alias("idx", "shingle")
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "shingle")
    if max_df is None:
        return ps
    occ = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    if max_df == "auto":
        n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
        cap = F.greatest(
            F.lit(MAX_DF_FLOOR).cast("long"),
            F.floor(F.col("n_docs") / F.lit(MAX_DF_FRAC_DEN)),
        )
        return (
            ps.withColumn("occ", occ)
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("occ") <= cap)
            .select("doc_id", "pos", "shingle")
        )
    return (
        ps.withColumn("occ", occ)
        .filter(F.col("occ") <= F.lit(int(max_df)))
        .select("doc_id", "pos", "shingle")
    )


def exact_substring_spans(
    docs: DataFrame,
    *,
    k: int = 8,
    min_span: int | None = None,
    text_col: str = "text",
    max_df: int | str | None = "auto",
) -> DataFrame:
    """Exact substring dedup: every MAXIMAL shared token span of
    ≥ ``min_span`` tokens (default ``k``) between two distinct
    documents — the third production dedup mode (after whole-doc exact
    and near-dup), the one that catches a licence header or boilerplate
    paragraph repeated inside otherwise-distinct docs.

    Relational formulation instead of suffix arrays (Lee et al. 2022
    build one over the whole corpus — inherently sequential): seed on
    exact ``k``-gram matches via the positioned inverted index, then
    extend by POSITION ADJACENCY.  Two docs sharing a span of L ≥ k
    tokens produce L−k+1 seed matches on one DIAGONAL
    (``pos_a − pos_b`` constant), at consecutive ``pos_a`` — so maximal
    spans are gaps-and-islands over (doc_a, doc_b, diag): island key =
    ``pos_a − row_number()``, span = [min pos_a, max pos_a + k − 1].

    Scale: one shuffle on ``shingle`` (hot seeds df-capped upstream —
    the O(occ²) guard), then a window + group over the seed-match
    table, which is ~|span tokens| sized, orders of magnitude smaller
    than the corpus.  No driver state, no Python row UDFs."""
    if min_span is None:
        min_span = k
    ps = positioned_shingle_table(docs, text_col, k, max_df=max_df)
    a, b = ps.alias("a"), ps.alias("b")
    m = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("s"),
            F.max("pos_a").alias("e"),
            F.count(F.lit(1)).alias("n_seed_matches"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("s").cast("long").alias("start_a"),
            (F.col("s") - F.col("diag")).cast("long").alias("start_b"),
            (F.col("e") - F.col("s") + k).cast("long").alias("span_tokens"),
            "n_seed_matches",
        )
        .filter(F.col("span_tokens") >= min_span)
    )


def union_intervals(
    iv: DataFrame,
    *,
    key_cols: list[str],
    s_col: str = "s",
    e_col: str = "e",
) -> DataFrame:
    """INTERVAL UNION per key — merge overlapping/touching integer
    intervals [s, e] (inclusive ends; intervals sharing an endpoint
    merge) into maximal disjoint islands.  The generic primitive behind
    span coverage, sessionization-by-extent and calendar gap audits.

    Gaps-and-islands over intervals: per key, order by (s, e); an
    interval opens a new island iff its start exceeds the running MAX
    end of all earlier intervals (a plain running max is NOT enough —
    an interval can be swallowed by an earlier, longer one).  One
    window partitioning per key, integer arithmetic only —
    SQL-mirrorable verbatim.  Output: key cols + (ms, me) per island.
    Property-tested against a driver-side sweep-line reference in
    ``tests/test_properties.py``.

    DUPLICATE intervals are dropped first — union is a SET operation,
    and the dedup is load-bearing for cross-engine exactness: with
    exact (key, s, e) twins the (s, e) ordering is not total, and an
    engine that sorts the new-island marker window and the cumulative
    island-number window INDEPENDENTLY (DuckDB does; Spark shares one
    sort) can swap the twins between passes, splitting them across
    islands and wrongly bridging the previous island over a gap —
    observed as run-to-run nondeterministic DuckDB results for the
    span-coverage oracle until the mirrors deduplicated too (round 8)."""
    iv = iv.select(*key_cols, s_col, e_col).distinct()
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(s_col, e_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy(s_col, e_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULL-safe long comparison: the first row per key has no prior max
    # (NULL) — `s > NULL` is NULL, so `NOT (s <= prior)` with a
    # coalesce-to-true keeps the arithmetic entirely in LONG.  (A
    # float('-inf') sentinel would coerce the comparison to double and
    # lose exactness past 2^53; the SQL mirrors coalesce to -1, which
    # assumes non-negative starts — this form assumes nothing.)
    prior_max = F.max(e_col).over(w_prev)
    new_isl = F.when(
        F.coalesce(F.col(s_col) > prior_max, F.lit(True)), 1
    ).otherwise(0)
    return (
        iv.withColumn("_isl", F.sum(new_isl).over(w_cum))
        .groupBy(*key_cols, "_isl")
        .agg(F.min(s_col).alias("ms"), F.max(e_col).alias("me"))
        .drop("_isl")
    )


def span_coverage(
    docs: DataFrame,
    *,
    k: int = 8,
    drop_threshold_pct: int = 20,
    text_col: str = "text",
    max_df: int | str | None = "auto",
    spans: DataFrame | None = None,
) -> DataFrame:
    """The substring-dedup DECISION layer: per document, what fraction
    of its tokens lies inside spans shared with other documents —
    computed as the INTERVAL UNION of all its shared spans (a doc
    duplicated against many partners must not double-count overlapping
    spans).  Docs at ≥ ``drop_threshold_pct``% coverage are flagged
    ``would_drop`` — the gate a production pipeline applies after
    :func:`exact_substring_spans`.

    Interval union is a second gaps-and-islands, over SPANS this time:
    per doc, order intervals by (start, end); an interval opens a new
    island iff its start exceeds the running max end of all earlier
    intervals; islands then collapse to (min start, max end).  Integer
    arithmetic throughout (the drop test is ``covered·100 ≥
    n_tokens·pct``) — oracle-exact.  All windows partition by doc_id;
    interval volume ≈ span count ≪ corpus.

    ``spans`` — pass a pre-computed (e.g. session-cached/materialized)
    :func:`exact_substring_spans` result to skip recomputing it."""
    if spans is None:
        spans = exact_substring_spans(
            docs, k=k, text_col=text_col, max_df=max_df
        )
    side_a = spans.select(
        F.col("doc_a").alias("doc_id"),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("span_tokens") - 1).alias("e"),
    )
    side_b = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
    )
    iv = side_a.unionByName(side_b)
    merged = union_intervals(iv, key_cols=["doc_id"])
    cov = merged.groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("covered_tokens"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    from ..functions.text import token_count

    nt = docs.select(
        "doc_id", token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    return cov.join(nt, "doc_id").select(
        "doc_id",
        "n_tokens",
        "covered_tokens",
        "n_intervals",
        F.round(F.col("covered_tokens") / F.col("n_tokens"), 6).alias("coverage"),
        (
            F.col("covered_tokens") * 100
            >= F.col("n_tokens") * drop_threshold_pct
        ).alias("would_drop"),
    )


def repeated_spans_within_doc(
    docs: DataFrame,
    *,
    k: int = 3,
    min_span: int | None = None,
    max_occ_per_doc: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repeated spans — the repetition-removal view
    (a paragraph pasted twice, looped boilerplate): maximal token spans
    of ≥ ``min_span`` (default ``k``) that occur at two positions in
    the SAME document.  Same diagonal gaps-and-islands as
    :func:`exact_substring_spans`, with the self-join keyed on
    ``(doc_id, shingle)`` — doc-local, so the shuffle key is never
    globally hot.

    ``max_occ_per_doc``: a shingle occurring more than this many times
    in ONE doc is dropped before the join — the within-doc analog of
    the global df cap.  A degenerate doc repeating one token 10⁶ times
    would otherwise contribute O(occ²) = 10¹² join rows; past ~50
    repeats the doc is saturated boilerplate and the signal is already
    unambiguous.  Output: (doc_id, start_first, start_second,
    span_tokens, n_seed_matches), one row per maximal repeated span
    (both copies' start positions, 1-based)."""
    if min_span is None:
        min_span = k
    ps = positioned_shingle_table(docs, text_col, k, max_df=None)
    occ = F.count(F.lit(1)).over(Window.partitionBy("doc_id", "shingle"))
    ps = (
        ps.withColumn("_occ", occ)
        .filter(F.col("_occ") <= max_occ_per_doc)
        .drop("_occ")
    )
    a, b = ps.alias("a"), ps.alias("b")
    m = (
        a.join(b, on=["doc_id", "shingle"])
        .filter(F.col("a.pos") < F.col("b.pos"))
        .select(
            "doc_id",
            F.col("a.pos").alias("pos_a"),
            (F.col("b.pos") - F.col("a.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_id", "diag").orderBy("pos_a")
    isl = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "diag", "grp")
        .agg(
            F.min("pos_a").alias("s"),
            F.max("pos_a").alias("e"),
            F.count(F.lit(1)).alias("n_seed_matches"),
        )
        .select(
            "doc_id",
            F.col("s").cast("long").alias("start_first"),
            (F.col("s") + F.col("diag")).cast("long").alias("start_second"),
            (F.col("e") - F.col("s") + k).cast("long").alias("span_tokens"),
            "n_seed_matches",
        )
        .filter(F.col("span_tokens") >= min_span)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_df: int | str | None = "auto",
    sh: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup: inverted-index self-join on shingle →
    per-pair intersection count → |A∪B| from per-doc sizes.

    ``sh`` — a prebuilt (doc_id, shingle) table (e.g. the session-staged
    canonical one from ``plans/dedup_store.py``); when given, ``docs``/
    ``k``/``max_df`` are ignored for the representation.

    The shingle join is the scalable formulation (candidates only where
    at least one shingle collides), and :func:`shingle_table`'s
    document-frequency cap (default: df ≤ max(50, 1% of corpus)) bounds
    the hot bucket: without it a stop-word shingle with df ~ n makes
    the self-join O(n²) on exactly the keys that matter at 100 TB.
    Jaccard is computed over the capped representation (sizes from the
    same capped table) so the score and the candidacy agree."""
    if sh is None:
        sh = shingle_table(docs, text_col, k, max_df=max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    n_hashes: int = 16,
    k: int = 3,
    text_col: str = "text",
    max_df: int | str | None = "auto",
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: shingle → 60-bit hash → per-permutation
    ``(a·(h mod p) + b) mod p`` → min per doc.  One explode + one
    grouped agg; signature is ``n_hashes`` long columns.  Signatures
    are taken over the df-capped shingle set (see
    :func:`shingle_table`) so the sketch estimates Jaccard of the SAME
    representation the exact paths use.  ``sh`` — prebuilt shingle
    table override (session staging), as in
    :func:`ngram_jaccard_pairs`."""
    if sh is None:
        sh = shingle_table(docs, text_col, k, max_df=max_df)
    hm = hash_int60(F.col("shingle")) % MINHASH_PRIME
    sig_cols = [
        F.min((F.lit(a) * hm + F.lit(b)) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return sh.groupBy("doc_id").agg(*sig_cols)


def banded_signatures(
    docs: DataFrame,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    text_col: str = "text",
    max_df: int | str | None = "auto",
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_hash) — the LSH band INDEX over MinHash
    signatures: the table a production pipeline persists (bucketed by
    (band, band_hash)) so that batch self-joins AND incremental
    new-vs-corpus probes are bucket-local lookups.  ``sig`` — prebuilt
    signature table override (session staging)."""
    rows = n_hashes // bands
    if sig is None:
        sig = minhash_signatures(
            docs, n_hashes=n_hashes, k=k, text_col=text_col, max_df=max_df
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_hash")


def minhash_candidate_pairs(
    docs: DataFrame,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    text_col: str = "text",
    max_df: int | str | None = "auto",
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature (rows = n/bands),
    hash each band, self-join per (band, band_hash) bucket.  Distinct
    pairs out; verification (true Jaccard) composes via
    :func:`ngram_jaccard_pairs` on the candidates.  ``sig`` — prebuilt
    signature table override (session staging)."""
    banded = banded_signatures(
        docs, n_hashes=n_hashes, bands=bands, k=k, text_col=text_col,
        max_df=max_df, sig=sig,
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash(text: Column, *, bits: int = 60) -> Column:
    """SimHash over whitespace tokens (occurrence-weighted): for each
    bit j, sum ±1 across token hashes; bit set iff the sum is positive.

    Stays per-row (no explode, no shuffle): one md5 per token into a
    hash array, then a single fold accumulating all ``bits`` counters
    in an array (literal bit masks — one bit-test per bit per token)."""
    toks = tokens(text)
    token_hashes = F.transform(toks, hash_int60)
    init = F.array_repeat(F.lit(0).cast("long"), bits)

    def merge(acc: Column, h: Column) -> Column:
        contrib = F.array(
            *[
                F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for j in range(bits)
            ]
        )
        return F.zip_with(acc, contrib, lambda x, y: x + y)

    sums = F.aggregate(token_hashes, init, merge)
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(
            F.element_at(sums, j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def simhash_table(
    docs: DataFrame, *, bits: int = 60, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh) via the relational formulation: explode tokens →
    one md5 per token → 60 codegen'd conditional SUMs in one grouped
    agg.  Same result as :func:`simhash` (same hash, same bit rule) but
    ~8× faster in bulk: hash-aggregate beats an interpreted per-row
    array fold.  One shuffle on doc_id."""
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("t")
    )
    th = tok.select("doc_id", hash_int60(F.col("t")).alias("h"))
    sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sh = F.lit(0).cast("long")
    for j in range(bits):
        sh = sh + F.when(
            F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select("doc_id", sh.alias("sh"))


def simhash_near_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 8,
    bands: int = 4,
    bits: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup: band the 60-bit hash into 15-bit chunks,
    bucket-join per band, then filter by true hamming distance via
    ``bit_count(xor)``.

    Recall guarantee (pigeonhole): a pair within hamming distance ≤
    ``bands − 1`` (= 3 with the default 4 bands) differs in fewer bits
    than there are bands, so at least one band is untouched and the
    pair MUST collide — recall is 100% there.  Beyond that, up to
    ``max_hamming``, recall is approximate: a pair whose differing bits
    touch every band is missed.  Measured recall at the defaults is
    asserted in ``tests/test_dedup_recall.py`` against the exact
    all-pairs hamming join.  For a hard guarantee at ``max_hamming`` you
    would need ``bands ≥ max_hamming + 1`` (here: 9+ bands of ≤ 6 bits,
    whose 64-value buckets degenerate toward all-pairs on real corpora
    — the classic LSH recall/cost trade, resolved in favor of wide
    bands + measured recall)."""
    return banded_hamming_pairs(
        simhash_table(docs, bits=bits, text_col=text_col),
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
    )


def banded_hamming_pairs(
    sh: DataFrame, *, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """(doc_a < doc_b, hamming) for every pair of ``(doc_id, sh)``
    ``bits``-bit hashes within ``max_hamming``: explode each hash into
    ``bands`` band keys, bucket equi-join per band, verify with exact
    ``bit_count(xor)``.  Pairs within ``bands − 1`` must share a band
    (pigeonhole); beyond that recall is approximate.  Never an
    all-pairs product."""
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sh"), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(bands)
    ]
    banded = sh.select(
        "doc_id", "sh", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "sh", "bb.band", "bb.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, on=["band", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def rowwise_minhash_bands(
    text: Column,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> Column:
    """MinHash LSH bands computed PER ROW — pure array expressions, no
    explode/groupBy — as ``array<struct<band int, band_hash string>>``.

    This is the ADMISSION-TIME signature: a streaming row cannot see
    corpus-wide document frequencies, so the representation is UNCAPPED
    by construction, and the static index it probes must be built
    uncapped too (both sides of an admission join must agree on the
    representation).  Values are identical to
    ``banded_signatures(..., max_df=None)``: ``shingles()`` is
    distinct, and the per-permutation min over the same shingle set is
    the same number whether computed by ``array_min`` here or by a
    grouped ``MIN`` there.

    Being a single map-side expression, it runs in Structured Streaming
    with NO state — the signature stage of a streaming dedup admission
    pipeline (``streaming/admission.py``)."""
    sh = shingles(text, k)
    hm = F.transform(sh, lambda c: hash_int60(c) % MINHASH_PRIME)
    rows = n_hashes // bands
    def _perm(a: int, b: int):
        # closure factory: pyspark derives higher-order-function arity
        # from the lambda's parameter count, so default-arg binding
        # (lambda h, a=a, b=b) would read as a 3-arg lambda and fail
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME

    sigs = [
        F.array_min(F.transform(hm, _perm(a, b)))
        for a, b in minhash_params(n_hashes)
    ]
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            sigs[bi * rows + r].cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for bi in range(bands)
        ]
    )
