"""Text-analysis operators for a large-scale training-data pipeline, over a
``documents(doc_id, text, lang, source, n_chars)`` table.

These generalize the reference's string checks (empty strings / length
variation src/core/validator.py:296-324, format heuristics :161-242) into
the document-corpus operations a 100 TB text pipeline needs: token
counting, quality scoring, language-ID, fingerprinting.

Every operator is a pure Catalyst column-expression plan — whole-stage
codegen end to end, no Python on executors — so each one is a single
parallel scan with partial aggregation where needed. Each has an exact
ANSI-SQL oracle in ``queries.py`` (DuckDB cross-check).

Cross-engine-portable hash primitive (used by fingerprints and the ANN
index sample):

    H(s) = first 15 hex digits of md5(s), as a 60-bit non-negative bigint

Spark:  ``cast(conv(substr(md5(s),1,15),16,10) as bigint)``
DuckDB: ``('0x' || substr(md5(s),1,15))::BIGINT``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stopword seed for the n-gram/stopword language heuristic. Deliberately
# tiny and public; the mechanism (broadcast lexicon → vectorized membership
# ratio) is the deliverable.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "was", "it",
    "for", "on", "with", "as", "at", "by", "this", "that", "from",
)

TOKEN_SPLIT = r"\s+"


def portable_hash64(col: Column) -> Column:
    """60-bit deterministic string hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_h64 = portable_hash64


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace, trimmed)."""
    return F.split(F.trim(text), TOKEN_SPLIT)


def token_counts(docs: DataFrame) -> DataFrame:
    """Per-document token count — whitespace tokens plus a BPE-ish subword
    estimate (ceil(chars/4), the common ~4-chars-per-token heuristic)."""
    toks = tokens_col(F.col("text"))
    return spread_small_scan(docs).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("bigint").alias("n_subword_est"),
    )


def round6(col):
    """Engine-deterministic 6-decimal rounding: ``floor(x*1e6 + 0.5)/1e6``.

    ``F.round`` and SQL ``round`` disagree across engines on
    representational ties: Spark rounds the double's SHORTEST decimal
    repr with HALF_UP (``double(323/640)`` prints as ``0.5046875`` →
    ``0.504688``) while DuckDB rounds the binary value
    (``0.50468749999999997`` → ``0.504687``). Per-row ratios over
    ``2^a·5^b`` denominators hit such ties routinely at scale (first
    seen in the sf1 sweep). ``floor`` over the same IEEE product is
    bit-identical in both engines. For negative inputs the form rounds
    ties toward +inf (half-UP, not half-away) — fine for cross-engine
    determinism (identical everywhere, incl. numpy's otherwise
    HALF-EVEN np.round), just not the usual signed-round convention.
    """
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic document quality score from length / punctuation /
    stopword ratios (the reference's string-quality checks, generalized).

    All-rational arithmetic over counts → bit-identical across engines.
    """
    text = F.col("text")
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_spaces = n_chars - F.length(F.regexp_replace(text, r"\s", ""))
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*EN_STOPWORDS)))
    mean_tok_len = (n_chars - n_spaces) / n_tokens

    alpha_ratio = n_alpha / n_chars
    stop_ratio = n_stop / n_tokens
    # quality = weighted mix, clamped into [0,1]; weights are arbitrary but
    # fixed — the point is a deterministic, engine-portable scoring plan.
    score = (
        F.lit(0.5) * alpha_ratio
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * F.when((mean_tok_len >= 3) & (mean_tok_len <= 9), 1.0).otherwise(0.0)
    )
    # the stopword HOF filter is interpreted per token — respread small
    # scans so it parallelizes (see spread_small_scan)
    return spread_small_scan(docs).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        round6(alpha_ratio).alias("alpha_ratio"),
        round6(stop_ratio).alias("stop_ratio"),
        round6(mean_tok_len).alias("mean_tok_len"),
        round6(score).alias("quality"),
    )


def langid_heuristic(docs: DataFrame, min_ratio: float = 0.04) -> DataFrame:
    """Stopword-ratio language ID: predict 'en' when the share of English
    stopword tokens clears ``min_ratio``, else 'und' (the SQL-expressible
    sibling of the hashed-n-gram langid pandas UDF in functions/udfs.py)."""
    toks = tokens_col(F.col("text"))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*EN_STOPWORDS)))
    ratio = n_stop / F.size(toks)
    return spread_small_scan(docs).select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        round6(ratio).alias("stop_ratio"),
        F.when(ratio >= min_ratio, F.lit("en")).otherwise(F.lit("und")).alias("lang_pred"),
    )


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin respread before a CPU-heavy map stage — only when the
    input is small enough that the shuffle is trivially cheap: its
    estimated size is under cores × 128 MB (the scan-split size), or
    Spark has no size estimate at all (an RDD-backed frame built on the
    driver, e.g. ``createDataFrame``).

    The trigger is the size, not the partition COUNT, for two reasons.
    The count lies on coarse-row-grouped parquet: Spark plans byte-range
    splits (e.g. 32 ~10 MB splits over a 311 MB file) but parquet rows go
    to the split holding each ROW GROUP's midpoint, so a 5-row-group file
    feeds rows to only 5 of the 32 tasks — the count reports 32, and a
    count-only heuristic serialized a 250M-shingle md5 stage onto 5 cores
    at the sf10 sweep (measured 141 s → ~20 s respread). And asking an
    adaptive plan for its count (``df.rdd.getNumPartitions()``) runs the
    shuffle stages below it while the caller is only building its plan
    (2 Spark jobs for a semi join). Below the size bound the repartition
    moves less than one scan split per core — noise next to the map
    stage it parallelizes; above it a sanely-ingested corpus
    (byte-bounded row groups — the layout contract tools/gen_scale_tables
    and corpus/generator enforce) already has ≥ cores data-bearing
    splits, and no shuffle is added at real corpus scale.

    A frame already respread (its optimized plan a round-robin
    repartition under any filters and projections, e.g. the output of
    this function feeding a composed operator) is returned unchanged: a
    second round-robin shuffle moves every row again for nothing."""
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()
    root = plan
    while root.nodeName() in ("Project", "Filter"):
        root = root.child()
    if root.nodeName() == "Repartition" and root.shuffle():
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    size = int(str(plan.stats().sizeInBytes()))
    no_estimate = qe.sparkSession().sessionState().conf().defaultSizeInBytes()
    if size < par * 128 * 2**20 or size >= no_estimate:
        return df.repartition(par)
    return df


def shingles(docs: DataFrame, k: int = 8, text_col: str = "text") -> DataFrame:
    """→ (doc_id, shingle): all character k-grams per document.

    One narrow explode — no shuffle in the steady state (input respread
    first only for the small-scan degenerate case: the explode fan-out
    plus the per-shingle hashing downstream of it are the CPU-heavy
    map-side work of the MinHash tier). Downstream aggs shuffle on
    doc_id or shingle hash. At 100 TB you'd shingle *after* an initial
    cheap filter so the explode fan-out applies only to surviving
    documents.
    """
    text = F.col(text_col)
    return (
        spread_small_scan(docs.where(F.length(text) >= k))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length(text) - (k - 1))).alias("pos"),
            text.alias("_t"),
        )
        .select("doc_id", F.expr(f"substring(_t, pos, {k})").alias("shingle"))
    )


def fingerprints(docs: DataFrame, k: int = 8, text_col: str = "text") -> DataFrame:
    """Per-document rolling-hash fingerprint: the minimum 60-bit hash over
    all character k-gram shingles (1-min-sketch — the degenerate MinHash;
    doubles as a cheap content fingerprint for near-dup candidate pruning).

    Plan: shingle explode → md5 → ONE partial-aggregatable groupBy(doc_id)
    min. The md5/conv chain runs inside WHOLE-STAGE CODEGEN on the
    exploded rows, and the map-side partial min shrinks the shuffle to
    one 16-byte row per doc per task.

    A zero-shuffle `array_min(transform(...))` formulation was shipped
    in rounds 2–4 and measured marginally faster at sf≤0.1. The sf10
    sweep (500k docs, 250M shingles) replaced it: the interpreted HOF
    lambda and this explode plan cost the same per shingle (measured
    141 vs 144 s when both were bound to 5 data-bearing scan tasks by
    the coarse-row-group + respread-heuristic defect spread_small_scan
    now fixes), but the explode formulation partial-aggregates map-side
    (16 bytes/doc shuffled) and keeps the md5 in whole-stage codegen
    behind a Generate the optimizer cannot fold back into the scan-side
    projection. Measured at sf10, local[32], after the respread fix:
    662 s (shipped r4 code on a single-row-group scan) → 29 s.
    """
    sh = shingles(docs, k, text_col)
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint")
    return sh.groupBy("doc_id").agg(F.min(h).alias("fingerprint"))
