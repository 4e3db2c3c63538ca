"""Driver-contract query registry: every SQL-expressible operator from
SURVEY.md §2 (plus the training-data-pipeline extensions) as a
(Spark-DataFrame builder, DuckDB oracle SQL) pair over the driver's
testdata tables.

Conventions that make the cross-engine value-hash match:

* every computed column is aliased identically on both sides;
* doubles are ``round(x, n)``-ed on both sides (n chosen so engine fp
  noise cannot flip the rounded digit);
* integer-ish computed columns are cast to BIGINT on both sides (Spark
  ``size``/``length`` are INT, DuckDB's are BIGINT);
* exact decimal sums: ``sum(cast(x as decimal(18,2)))`` on both sides —
  bit-identical regardless of summation order — then cast to double;
* all orderings / top-k have total tie-breakers;
* hashes use the engine-portable 60-bit md5 prefix
  (operators/text.portable_hash64).

SURVEY §2 ids are cited per query; /root/reference file:line pins are in
the operator modules' docstrings.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import ann, simdedup, text as text_ops

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ===========================================================================
# Aggregations / filters over the relational testdata (SURVEY §2.2, §2.4)
# ===========================================================================

@register(
    "events_profile",
    r"""
    WITH m AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
             CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
             CAST(sum(CASE WHEN NOT regexp_matches(props, '^\{"k": [0-9]+\}$')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_props,
             min(ts) AS first_ts, max(ts) AS last_ts,
             CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS BIGINT)
               AS span_days,
             count(*) FILTER (WHERE event_type = 'click') AS n_type_click,
             count(*) FILTER (WHERE event_type = 'error') AS n_type_error,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_type_purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS n_type_signup,
             count(*) FILTER (WHERE event_type = 'view') AS n_type_view
      FROM events
    )
    SELECT n_rows, null_user_id, null_value, null_props, n_bad_props,
           first_ts, last_ts, span_days,
           n_type_click, n_type_error, n_type_purchase, n_type_signup, n_type_view,
           round(CAST(null_value AS DOUBLE) / n_rows * 100, 4) AS missing_pct,
           CASE WHEN CAST(null_value AS DOUBLE) / n_rows * 100 > 50 THEN 'high'
                WHEN CAST(null_value AS DOUBLE) / n_rows * 100 > 20 THEN 'medium'
                ELSE 'low' END AS severity
    FROM m
    """,
)
def q_events_profile(spark, sf_dir):
    """A1/P1 + A9 + A11/F1 + A21 + A22/F10 in ONE aggregate pass over events
    (registry curation, round 4 — formerly the separate null_counts /
    missing_threshold_severity / format_check_props / minmax_ts rows; the
    merged oracle preserves every column's hash-level evidence while
    freeing driver-cap slots; round 5 absorbed A21's event-type
    histogram — the generator's type vocabulary is fixed, so the five
    per-type counts carry the exact same values the group-by emitted,
    one per named column): per-column null counts (validator.py:84-99),
    missing-pct severity tiers (>50 high / >20 medium,
    validation_rules.py:66-85), format-regex violation count
    (validation_rules.py:121-158), and min/max timestamp + day-span date
    arithmetic (metrics.py:114-115, comparison.py:122-126). One scan, one
    partial+final aggregate — the reference scans once per check."""
    e = _t(spark, sf_dir, "events")
    pat = r'^\{"k": [0-9]+\}$'
    m = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("bigint")).alias("null_user_id"),
        F.sum(F.col("value").isNull().cast("bigint")).alias("null_value"),
        F.sum(F.col("props").isNull().cast("bigint")).alias("null_props"),
        F.sum((~F.col("props").rlike(pat)).cast("bigint")).alias("n_bad_props"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
        .cast("bigint")
        .alias("span_days"),
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_type_{t}")
            for t in ("click", "error", "purchase", "signup", "view")
        ],
    )
    pct = F.col("null_value").cast("double") / F.col("n_rows") * 100
    return m.select(
        "n_rows", "null_user_id", "null_value", "null_props", "n_bad_props",
        "first_ts", "last_ts", "span_days",
        "n_type_click", "n_type_error", "n_type_purchase", "n_type_signup",
        "n_type_view",
        F.round(pct, 4).alias("missing_pct"),
        F.when(pct > 50, "high").when(pct > 20, "medium").otherwise("low").alias("severity"),
    )


_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]


@register(
    "dup_full_rows",
    f"""
    SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) AS dup_rows
    FROM (SELECT count(*) AS cnt FROM lineitem
          GROUP BY {', '.join(_LINEITEM_COLS)})
    """,
)
def q_dup_full_rows(spark, sf_dir):
    """A2 — full-row duplicate count (validator.py:101-113) as a single
    hash-groupBy aggregation (partial+final, no driver collect).

    Scale shape: grouping by the raw columns shuffles the ENTIRE wide
    row; grouping by two independent 32/64-bit row hashes shuffles ~12
    bytes + count per row instead — the 100 TB formulation. Correctness:
    Spark's hash functions skip NULL inputs (so (null,'a') and
    ('a',null) would collide systematically), hence the null-position
    bitmap is hashed alongside the values; with 96 combined hash bits
    the expected false-merge count is n²/2⁹⁷ ≈ 3·10⁻⁶ even at 10¹²
    rows. The DuckDB oracle groups by the actual columns, so any
    collision would surface as a hash-mismatch in the driver gate."""
    li = _t(spark, sf_dir, "lineitem")
    nullmap = F.concat_ws(
        "", *[F.col(c).isNull().cast("int").cast("string") for c in _LINEITEM_COLS]
    )
    return (
        li.groupBy(
            F.xxhash64(*_LINEITEM_COLS, nullmap).alias("_h1"),
            F.hash(*_LINEITEM_COLS, nullmap).alias("_h2"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).cast("bigint").alias("dup_rows"))
    )


@register(
    "lineitem_profile",
    """
    SELECT count(*) - count(DISTINCT l_orderkey) AS key_dups,
           count(DISTINCT l_orderkey) AS n_keys,
           CAST(sum(CASE WHEN l_quantity < 5 THEN 1 ELSE 0 END) AS BIGINT) AS below_min,
           CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS above_max,
           count(*) AS n_rows,
           count(DISTINCT l_partkey) AS card_parts,
           count(DISTINCT l_suppkey) AS card_supps,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(corr(l_discount, l_tax), 6) AS corr_disc_tax
    FROM lineitem
    """,
)
def q_lineitem_profile(spark, sf_dir):
    """A4 + A10 + A12 + A14 in ONE aggregate pass over lineitem (registry
    curation, round 4 — formerly key_dup_count / range_check_quantity /
    distinct_cards / corr_pairs): key-duplicate count (unique rule,
    validation_rules.py:176-193), range-check below/above counts
    (validation_rules.py:87-119, null-safe), exact cardinalities
    (ml_advisor.py:141 — at 10^12 rows flip to approx_count_distinct and
    document the ε), and pairwise Pearson correlation
    (ml_advisor.py:184-198)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        (F.count(F.lit(1)) - F.countDistinct("l_orderkey")).alias("key_dups"),
        F.countDistinct("l_orderkey").alias("n_keys"),
        F.sum((F.col("l_quantity") < 5).cast("bigint")).alias("below_min"),
        F.sum((F.col("l_quantity") > 45).cast("bigint")).alias("above_max"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("card_parts"),
        F.countDistinct("l_suppkey").alias("card_supps"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_disc_tax"),
    )


@register(
    "quantiles_price_scalable",
    """
    SELECT round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 4) AS q1,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 4) AS median,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 4) AS q3
    FROM orders
    """,
)
def q_quantiles_price_scalable(spark, sf_dir):
    """A5 at corpus scale — the SAME exact quantiles as quantiles_price
    (identical oracle proves it) via distributed exact selection
    (operators/outliers.exact_quantiles_scalable): approx-bracket, count
    below + collect only the ≈4n/accuracy in-bracket values, exact
    order-statistic interpolation driver-side. Spark's `percentile`
    buffers the whole column in ONE aggregation buffer and cannot run at
    10^12 rows; this shape can (two column-pruned passes, bounded
    collect)."""
    from .operators.outliers import exact_quantiles_scalable

    o = _t(spark, sf_dir, "orders")
    q1, med, q3 = exact_quantiles_scalable(o, "o_totalprice", [0.25, 0.5, 0.75])
    return spark.createDataFrame(
        [(round(q1, 4), round(med, 4), round(q3, 4))], "q1 double, median double, q3 double"
    )


@register(
    "histogram_price",
    """
    WITH x AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
       WHERE o_totalprice IS NOT NULL
    ),
    b AS (
      SELECT min(v) AS lo, max(v) AS hi, (max(v) - min(v)) / 30 AS w FROM x
    )
    SELECT CAST(least(floor((v - lo) / w), 29) AS BIGINT) AS bin,
           round(lo + CAST(least(floor((v - lo) / w), 29) AS BIGINT) * w, 6) AS bin_lo,
           round(lo + (CAST(least(floor((v - lo) / w), 29) AS BIGINT) + 1) * w, 6) AS bin_hi,
           count(*) AS n
      FROM x, b
     GROUP BY 1, 2, 3
     ORDER BY bin
    """,
)
def q_histogram_price(spark, sf_dir):
    """Numeric-distribution histogram (the reference's plt.hist chart,
    visualizations.py:104-145) as a distributed binning: min/max pre-pass
    then ONE map-side-combinable groupBy on the bin index — only 30
    counts reach the driver. operators/metrics.numeric_histogram; the
    SVG rendering consumes exactly these rows (sinks.svg_histogram).
    Bin arithmetic is pure IEEE-double ((v-lo)/w, floor, least) so both
    engines bin identically."""
    from .operators.metrics import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", nbins=30)


@register(
    "orders_profile",
    """
    WITH b AS (
      SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS q3
      FROM orders
    )
    SELECT round(q1 - 1.5 * (q3 - q1), 4) AS lo,
           round(q3 + 1.5 * (q3 - q1), 4) AS hi,
           (SELECT count(*) FROM orders, b
             WHERE o_totalprice < q1 - 1.5 * (q3 - q1)
                OR o_totalprice > q3 + 1.5 * (q3 - q1)) AS n_outliers,
           (SELECT round(min(o_totalprice), 4) FROM orders) AS price_min,
           (SELECT round(max(o_totalprice), 4) FROM orders) AS price_max,
           (SELECT round(avg(o_totalprice), 4) FROM orders) AS price_avg,
           (SELECT round(stddev(o_totalprice), 3) FROM orders) AS price_std
    FROM b
    """,
)
def q_orders_profile(spark, sf_dir):
    """A6 + A15/A16 sharing one scan (registry curation, round 4 —
    formerly outlier_count_iqr / column_moments): IQR·1.5 fence outlier
    count (validator.py:270-294) plus the column moments incl. stddev
    (ml_advisor.py:261-275), computed in the SAME second aggregate so
    the merge costs zero extra passes. The quantile pre-pass uses
    exact_quantiles_scalable (bit-identical to ``percentile()``): the
    raw exact-percentile aggregate buffers EVERY value in one task —
    the single-buffer scale-killer summary_stats already moved off, and
    the sf10 sweep's slowest Spark-only row (94.7 s over 15M orders →
    ~7 s; OOM at 10^12).

    The quantile pre-pass runs its Spark jobs while the query is BUILT
    (the fence reaches the plan as literals). An empty or all-null price
    column has no quartiles: the fence is then null and no row is an
    outlier, as in the oracle."""
    from .operators.outliers import exact_quantiles_scalable

    o = _t(spark, sf_dir, "orders")
    quartiles = exact_quantiles_scalable(o, "o_totalprice", [0.25, 0.75])
    if quartiles is None:
        lo = hi = F.lit(None).cast("double")
    else:
        q1, q3 = quartiles
        lo, hi = F.lit(q1 - 1.5 * (q3 - q1)), F.lit(q3 + 1.5 * (q3 - q1))
    price = F.col("o_totalprice")
    return o.agg(
        F.round(lo, 4).alias("lo"),
        F.round(hi, 4).alias("hi"),
        F.count(F.when((price < lo) | (price > hi), 1)).alias("n_outliers"),
        F.round(F.min("o_totalprice"), 4).alias("price_min"),
        F.round(F.max("o_totalprice"), 4).alias("price_max"),
        F.round(F.avg("o_totalprice"), 4).alias("price_avg"),
        F.round(F.stddev("o_totalprice"), 3).alias("price_std"),
    )


@register(
    "documents_profile",
    """
    WITH m AS (
      SELECT count(*) AS n_rows,
             CAST(min(length(text)) AS BIGINT) AS len_min,
             CAST(max(length(text)) AS BIGINT) AS len_max,
             round(avg(CAST(length(text) AS DOUBLE)), 4) AS len_avg,
             (max(length(text)) > 10 * min(length(text)) AND max(length(text)) > 100)
               AS high_variation,
             sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS miss_text
      FROM documents
    ),
    t AS (
      SELECT lang AS top_lang, cnt,
             round(CAST(cnt AS DOUBLE) / (SELECT n_rows FROM m), 6) AS share
      FROM (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
      QUALIFY row_number() OVER (ORDER BY cnt DESC, top_lang ASC) = 1
    )
    SELECT n_rows, len_min, len_max, len_avg, high_variation,
           CAST(100
                - (CASE WHEN CAST(miss_text AS DOUBLE)/n_rows*100 > 50 THEN 30
                        WHEN CAST(miss_text AS DOUBLE)/n_rows*100 > 30 THEN 20
                        WHEN CAST(miss_text AS DOUBLE)/n_rows*100 > 10 THEN 10
                        WHEN CAST(miss_text AS DOUBLE)/n_rows*100 > 5 THEN 5
                        ELSE 0 END)
                - (CASE WHEN n_rows < 100 THEN 20
                        WHEN n_rows < 500 THEN 10
                        WHEN n_rows < 1000 THEN 5 ELSE 0 END) AS BIGINT)
             AS readiness,
           top_lang, cnt, share
    FROM m, t
    """,
)
def q_documents_profile(spark, sf_dir):
    """A7 + A18 + A13 over documents (registry curation, round 4 —
    formerly strlen_stats / readiness_score / top_class_share):
    string-length min/max + the reference's variation rule
    (validator.py:309-324: max>10·min and max>100), the readiness-score
    fold with the exact penalty tiers (ml_advisor.py:319-365: 50/30/10/5%
    missing and 100/500/1000-row thresholds), and the dominant-class
    share (ml_advisor.py:134-162). One full-scan aggregate + one groupBy
    on lang; the two 1-row heads cross-join for free."""
    d = _t(spark, sf_dir, "documents")
    ln = F.length("text")
    m = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(ln).cast("bigint").alias("len_min"),
        F.max(ln).cast("bigint").alias("len_max"),
        F.round(F.avg(ln.cast("double")), 4).alias("len_avg"),
        ((F.max(ln) > 10 * F.min(ln)) & (F.max(ln) > 100)).alias("high_variation"),
        F.sum(F.col("text").isNull().cast("bigint")).alias("miss_text"),
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("lang"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("lang").alias("top_lang"), "cnt")
    )
    miss_pct = F.col("miss_text").cast("double") / F.col("n_rows") * 100
    miss_pen = (
        F.when(miss_pct > 50, 30)
        .when(miss_pct > 30, 20)
        .when(miss_pct > 10, 10)
        .when(miss_pct > 5, 5)
        .otherwise(0)
    )
    size_pen = (
        F.when(F.col("n_rows") < 100, 20)
        .when(F.col("n_rows") < 500, 10)
        .when(F.col("n_rows") < 1000, 5)
        .otherwise(0)
    )
    return m.crossJoin(F.broadcast(top)).select(
        "n_rows", "len_min", "len_max", "len_avg", "high_variation",
        (F.lit(100) - miss_pen - size_pen).cast("bigint").alias("readiness"),
        "top_lang", "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias("share"),
    )


@register(
    "groupby_day",
    """
    SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
             AS avg_value
    FROM events GROUP BY 1
    """,
)
def q_groupby_day(spark, sf_dir):
    """A19 — group-by-day counts (metrics.py:58-69). avg computed as
    exact-decimal sum / count so it is bit-identical cross-engine."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_value"),
    )


@register(
    "groupby_source",
    """
    SELECT source, count(*) AS n, round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents GROUP BY source
    """,
)
def q_groupby_source(spark, sf_dir):
    """A20 — group-by-format counts (metrics.py:72-81; the per-codec
    metric shape)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


# A21 (severity-histogram shape): absorbed into events_profile as five
# fixed-vocabulary per-type count columns (round-5 curation — frees one
# driver-cap slot for multimodal_video_frames; the dynamic-key group-by
# MECHANISM stays driver-verified via groupby_day / groupby_source /
# clips_findings_summary).


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1e6 AS sum_disc,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_qty,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary — the canonical multi-aggregate
    groupBy (partial+final, decimal-exact sums). sum_disc uses the
    join_fk_count scaled-integer discipline (floor(x*1e6+0.5), exact
    decimal sum): the per-row double→DECIMAL(18,6) cast rounds the
    shortest decimal repr HALF_UP in Spark but the binary value in
    DuckDB, and at the sf10 sweep's 60M lineitems those representational
    ties accumulated to a visible last-ulp divergence in the group sums."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
    )
    disc_scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(38,0)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base"),
        (F.sum(disc_scaled).cast("double") / F.lit(1e6)).alias("sum_disc"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "top_unshipped_orders",
    """
    SELECT o_orderkey, o_orderdate,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1e6 AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_top_unshipped_orders(spark, sf_dir):
    """TPC-H Q3-shaped join + agg + top-k: date-filtered fact-fact join,
    scaled-integer-exact revenue (the join_fk_count/pricing_summary
    engine-determinism discipline), TakeOrderedAndProject top-k with
    tie-break."""
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev_scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(38,0)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg((F.sum(rev_scaled).cast("double") / F.lit(1e6)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ===========================================================================
# Sorts / limits / windows (SURVEY §2.5)
# ===========================================================================

@register(
    "pagination",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100
    """,
)
def q_pagination(spark, sf_dir):
    """W2 — offset pagination (history.py:59-88), native OFFSET (Spark ≥3.4)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey").select("o_orderkey", "o_totalprice").offset(100).limit(20)
    )


@register(
    "window_rank",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
          FROM lineitem WHERE l_orderkey < 1000)
    WHERE rn = 1
    """,
)
def q_window_rank(spark, sf_dir):
    """W3 — deterministic first-k per group via row_number (the Spark
    replacement for the reference's order-dependent caps, SURVEY §4.3)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ===========================================================================
# Joins (SURVEY §2.3) and set ops (§2.6)
# ===========================================================================

@register(
    "join_fk_count",
    """
    SELECT count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1e6 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1997-06-01'
    """,
)
def q_join_fk_count(spark, sf_dir):
    """J1 — FK equi-join + time-window filter (metrics.py:48-52). The
    filtered orders side is small → broadcast. Revenue is summed as
    6-decimal SCALED INTEGERS (floor(x*1e6+0.5), exact decimal(38,0)
    sum) so the result is order-independent AND engine-deterministic:
    a double→decimal cast rounds the shortest decimal repr HALF_UP in
    Spark but the binary value in DuckDB, and over millions of items
    those representational ties diverge (first seen in the sf1 sweep).
    floor over identical IEEE products is bit-identical everywhere; the
    decimal(38,0) sum cannot overflow at any realistic scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("1997-06-01").cast("timestamp"))
    j = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(38,0)")
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(scaled).cast("double") / F.lit(1e6)).alias("revenue"),
    )


@register(
    "join_left_agg",
    """
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    WHERE c_custkey < 200
    GROUP BY c_custkey
    """,
)
def q_join_left_agg(spark, sf_dir):
    """J2 — the summary-view left join + conditional agg
    (dev_create_check_summary_view.py:12-25)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    o = _t(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0)).cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spent"),
    )


@register(
    "compare_days",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
    ), days AS (
      SELECT min(day) AS day_a, max(day) AS day_b FROM daily
    )
    SELECT e.event_type,
           coalesce(a.cnt, 0) AS cnt_a, coalesce(b.cnt, 0) AS cnt_b,
           coalesce(b.cnt, 0) - coalesce(a.cnt, 0) AS delta,
           round(CAST(coalesce(b.cnt, 0) - coalesce(a.cnt, 0) AS DOUBLE)
                 / greatest(coalesce(a.cnt, 0), 1) * 100, 4) AS pct_change
    FROM (SELECT DISTINCT event_type FROM events) e
    LEFT JOIN (SELECT event_type, cnt FROM daily, days WHERE day = day_a) a
           ON e.event_type = a.event_type
    LEFT JOIN (SELECT event_type, cnt FROM daily, days WHERE day = day_b) b
           ON e.event_type = b.event_type
    """,
)
def q_compare_days(spark, sf_dir):
    """J4/A24 — the run-compare math (comparison.py:57-96): two period
    histograms diffed with the reference's max(x,1) division guard
    (comparison.py:80)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    days = daily.agg(F.min("day").alias("day_a"), F.max("day").alias("day_b"))
    types = e.select("event_type").distinct()
    a = (
        daily.join(F.broadcast(days), daily.day == days.day_a)
        .select("event_type", F.col("cnt").alias("cnt_a_raw"))
    )
    b = (
        daily.join(F.broadcast(days), daily.day == days.day_b)
        .select("event_type", F.col("cnt").alias("cnt_b_raw"))
    )
    out = (
        types.join(a, "event_type", "left")
        .join(b, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("cnt_a_raw", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b_raw", F.lit(0)).alias("cnt_b"),
        )
    )
    return out.select(
        "event_type",
        "cnt_a",
        "cnt_b",
        (F.col("cnt_b") - F.col("cnt_a")).alias("delta"),
        F.round(
            (F.col("cnt_b") - F.col("cnt_a")).cast("double")
            / F.greatest(F.col("cnt_a"), F.lit(1))
            * 100,
            4,
        ).alias("pct_change"),
    )


@register(
    "trend_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
    ), latest AS (SELECT max(day) AS last_day FROM daily)
    SELECT d.event_type,
           CAST(sum(CASE WHEN d.day = last_day THEN d.cnt ELSE 0 END) AS BIGINT) AS current_cnt,
           round(CAST(sum(CASE WHEN d.day <> last_day THEN d.cnt ELSE 0 END) AS DOUBLE)
                 / greatest(count(CASE WHEN d.day <> last_day THEN 1 END), 1), 4)
             AS baseline_avg,
           CASE
             WHEN sum(CASE WHEN d.day = last_day THEN d.cnt ELSE 0 END)
                  < 0.9 * (CAST(sum(CASE WHEN d.day <> last_day THEN d.cnt ELSE 0 END) AS DOUBLE)
                           / greatest(count(CASE WHEN d.day <> last_day THEN 1 END), 1))
               THEN 'improving'
             WHEN sum(CASE WHEN d.day = last_day THEN d.cnt ELSE 0 END)
                  > 1.1 * (CAST(sum(CASE WHEN d.day <> last_day THEN d.cnt ELSE 0 END) AS DOUBLE)
                           / greatest(count(CASE WHEN d.day <> last_day THEN 1 END), 1))
               THEN 'degrading'
             ELSE 'stable'
           END AS trend
    FROM daily d, latest
    GROUP BY d.event_type
    """,
)
def q_trend_daily(spark, sf_dir):
    """J5/A24 — trend vs history window with the ±10% band
    (comparison.py:158-186), per event type."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    latest = daily.agg(F.max("day").alias("last_day"))
    d = daily.crossJoin(F.broadcast(latest))
    cur = F.sum(F.when(F.col("day") == F.col("last_day"), F.col("cnt")).otherwise(0))
    base_sum = F.sum(F.when(F.col("day") != F.col("last_day"), F.col("cnt")).otherwise(0))
    base_n = F.greatest(
        F.count(F.when(F.col("day") != F.col("last_day"), F.lit(1))), F.lit(1)
    )
    baseline = base_sum.cast("double") / base_n
    return d.groupBy("event_type").agg(
        cur.alias("current_cnt"),
        F.round(baseline, 4).alias("baseline_avg"),
        F.when(cur < 0.9 * baseline, "improving")
        .when(cur > 1.1 * baseline, "degrading")
        .otherwise("stable")
        .alias("trend"),
    )


@register(
    "set_ops_users",
    """
    SELECT
      (SELECT count(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'signup'
         UNION SELECT user_id FROM events WHERE event_type = 'error')) AS n_union,
      (SELECT count(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'signup'
         INTERSECT SELECT user_id FROM events WHERE event_type = 'error')) AS n_intersect,
      (SELECT count(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'signup'
         EXCEPT SELECT user_id FROM events WHERE event_type = 'error')) AS n_except
    """,
)
def q_set_ops_users(spark, sf_dir):
    """§2.6 — union / intersect / except (absent in the reference; the
    findings-table unionByName pattern exercised as set algebra)."""
    e = _t(spark, sf_dir, "events")
    signup = e.where(F.col("event_type") == "signup").select("user_id")
    error = e.where(F.col("event_type") == "error").select("user_id")
    u = signup.union(error).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    i = signup.intersect(error).agg(F.count(F.lit(1)).alias("n_intersect"))
    x = signup.subtract(error).agg(F.count(F.lit(1)).alias("n_except"))
    return u.crossJoin(i).crossJoin(x)


# ===========================================================================
# Training-data pipeline: text analysis over `documents`
# ===========================================================================

@register(
    "doc_token_counts",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
    FROM documents
    """,
)
def q_doc_token_counts(spark, sf_dir):
    """Token counting (whitespace + BPE-ish estimate) — operators/text.py."""
    d = _t(spark, sf_dir, "documents")
    out = text_ops.token_counts(d)
    return out.select("doc_id", F.col("n_tokens").cast("bigint"), "n_subword_est")


_STOPWORDS_SQL = "','".join(text_ops.EN_STOPWORDS)


@register(
    "doc_quality",
    rf"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               AS n_spaces,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS n_alpha,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  t -> lower(t) IN ('{_STOPWORDS_SQL}'))) AS DOUBLE)
               AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           floor(n_alpha / n_chars * 1e6 + 0.5) / 1e6 AS alpha_ratio,
           floor(n_stop / n_tokens * 1e6 + 0.5) / 1e6 AS stop_ratio,
           floor((n_chars - n_spaces) / n_tokens * 1e6 + 0.5) / 1e6 AS mean_tok_len,
           floor((0.5 * (n_alpha / n_chars)
                  + 0.3 * least(n_stop / n_tokens * 4, 1.0)
                  + 0.2 * (CASE WHEN (n_chars - n_spaces) / n_tokens BETWEEN 3 AND 9
                                THEN 1.0 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 AS quality
    FROM f
    """,
)
def q_doc_quality(spark, sf_dir):
    """Quality scoring from length/punct/stopword ratios — operators/text.py."""
    d = _t(spark, sf_dir, "documents")
    out = text_ops.quality_scores(d)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


@register(
    "doc_langid",
    rf"""
    WITH f AS (
      SELECT doc_id, lang AS lang_label,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  t -> lower(t) IN ('{_STOPWORDS_SQL}'))) AS DOUBLE)
               / len(string_split_regex(trim(text), '\s+')) AS ratio
      FROM documents
    )
    SELECT doc_id, lang_label, floor(ratio * 1e6 + 0.5) / 1e6 AS stop_ratio,
           CASE WHEN ratio >= 0.04 THEN 'en' ELSE 'und' END AS lang_pred
    FROM f
    """,
)
def q_doc_langid(spark, sf_dir):
    """Stopword-heuristic language ID — operators/text.py (SQL sibling of
    the hashed-n-gram langid UDF)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.langid_heuristic(d)


@register(
    "doc_fingerprints",
    """
    WITH sh AS (
      SELECT doc_id, unnest(generate_series(1, length(text) - 7)) AS pos, text
      FROM documents WHERE length(text) >= 8
    )
    SELECT doc_id,
           min(('0x' || substr(md5(substr(text, pos, 8)), 1, 15))::BIGINT) AS fingerprint
    FROM sh GROUP BY doc_id
    """,
)
def q_doc_fingerprints(spark, sf_dir):
    """Document fingerprinting (min-hash of rolling 8-gram shingles) —
    operators/text.py."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.fingerprints(d, k=8)


# ===========================================================================
# Training-data pipeline: dedup family over `documents` / `embeddings`
# ===========================================================================

@register(
    "dedup_exact_docs",
    """
    WITH h AS (SELECT doc_id, md5(text) AS _h FROM documents),
         k AS (SELECT _h, min(doc_id) AS keeper_doc_id FROM h GROUP BY _h)
    SELECT h.doc_id, h.doc_id <> k.keeper_doc_id AS is_dup, k.keeper_doc_id
    FROM h JOIN k ON h._h = k._h
    """,
)
def q_dedup_exact_docs(spark, sf_dir):
    """Exact-content dedup with deterministic keep-first —
    operators/simdedup.exact_dedup (the clip SHA-1 dedup shape, A4)."""
    d = _t(spark, sf_dir, "documents")
    return simdedup.exact_dedup(d)


def _minhash_sql() -> str:
    # coefficients shared verbatim with the Spark expression — see
    # simdedup.minhash_coeffs (full-range multipliers; small ones
    # degenerate, see the note above simdedup.MINHASH_PRIME)
    perms = ",\n           ".join(
        "min((({a} * h + {b}) % {p})) AS m{i}".format(
            a=simdedup.minhash_coeffs(i)[0],
            b=simdedup.minhash_coeffs(i)[1],
            p=simdedup.MINHASH_PRIME,
            i=i,
        )
        for i in range(simdedup.N_HASHES)
    )
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, pos, 8) AS shingle
      FROM (SELECT doc_id, unnest(generate_series(1, length(text) - 7)) AS pos, text
            FROM documents WHERE length(text) >= 8)
    ), hh AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh
    )
    SELECT doc_id,
           {perms}
    FROM hh GROUP BY doc_id
    """


def _band_sql() -> str:
    rows_per_band = simdedup.N_HASHES // simdedup.N_BANDS
    selects = []
    for b in range(simdedup.N_BANDS):
        lo = b * rows_per_band
        cols = ", ".join(f"CAST(m{i} AS VARCHAR)" for i in range(lo, lo + rows_per_band))
        selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bucket FROM sig"
        )
    return " UNION ALL ".join(selects)


@register(
    "minhash_lsh_pairs",
    f"""
    WITH sig AS ({_minhash_sql()}),
    bands AS ({_band_sql()})
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    """,
)
def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash LSH banding → candidate near-dup pairs —
    operators/simdedup.minhash_lsh_pairs (shingle→minhash→band→bucket-join)."""
    d = _t(spark, sf_dir, "documents")
    return simdedup.minhash_lsh_pairs(d, k=8)


# CTE body shared by minhash_verified_pairs and neardup_clusters (the
# component query wraps the same pair derivation in a recursive CTE)
def _verified_pairs_ctes() -> str:
    # MATERIALIZED: DuckDB inlines CTEs by default, so every downstream
    # reference would re-run the 26M-row shingle scan + band self-join;
    # at 50k docs the re-inlined tree spilled >55 GB before the hints
    return f"""
    sig AS MATERIALIZED ({_minhash_sql()}),
    bands AS ({_band_sql()}),
    cand AS MATERIALIZED (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    ),
    ids AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
    csh AS (
      SELECT DISTINCT doc_id, substr(text, pos, 8) AS shingle
      FROM (SELECT doc_id, unnest(generate_series(1, length(text) - 7)) AS pos, text
            FROM documents
            WHERE length(text) >= 8 AND doc_id IN (SELECT doc_id FROM ids))
    ),
    -- per-doc shingle LISTS: the intersection is then list_intersect
    -- per candidate pair — strictly linear in |cand|. (An earlier
    -- shingle-equality formulation let the optimizer flip to a
    -- corpus-wide shingle self-join at 50k docs — sum(df^2) rows of
    -- spill; same values, catastrophically different plan.)
    dlists AS MATERIALIZED (
      SELECT doc_id, list(shingle) AS sh, count(*) AS n_sh
      FROM csh GROUP BY doc_id
    ),
    vp AS (
      -- raw_j >= t decides membership (bit-identical across engines:
      -- integer counts, one IEEE division); floor(x*1e6+0.5)/1e6 is the
      -- engine-deterministic display rounding (round() diverges from
      -- Spark on representational ties — see operators/text.round6)
      SELECT doc_a, doc_b, floor(raw_j * 1000000.0 + 0.5) / 1000000.0 AS jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(la.sh, lb.sh)) AS DOUBLE)
               / (la.n_sh + lb.n_sh - len(list_intersect(la.sh, lb.sh))) AS raw_j
        FROM cand c
        JOIN dlists la ON la.doc_id = c.doc_a
        JOIN dlists lb ON lb.doc_id = c.doc_b
      ) WHERE raw_j >= 0.5
    )"""


@register(
    "minhash_verified_pairs",
    f"""
    WITH {_verified_pairs_ctes()}
    SELECT doc_a, doc_b, jaccard FROM vp
    """,
)
def q_minhash_verified_pairs(spark, sf_dir):
    """The wired LSH→verify near-dup tier (VERDICT r1 item 3): MinHash-LSH
    candidates verified by exact shingle Jaccard restricted to candidate
    pairs — operators/simdedup.minhash_verified_pairs. The plan never
    joins raw shingles corpus-wide (reference dedup-decision analog:
    src/core/validator.py:101-123)."""
    d = _t(spark, sf_dir, "documents")
    return simdedup.minhash_verified_pairs(d, k=8, threshold=0.5)


@register(
    "neardup_clusters",
    f"""
    WITH RECURSIVE {_verified_pairs_ctes()},
    nodes AS (SELECT doc_a AS doc_id FROM vp UNION SELECT doc_b FROM vp),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM vp
              UNION ALL SELECT doc_b, doc_a FROM vp),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
      UNION
        SELECT e.u, w.label FROM walk w JOIN edges e ON e.v = w.doc_id
    )
    SELECT doc_id, min(label) AS cluster_id,
           (doc_id != min(label)) AS is_dup
    FROM walk GROUP BY doc_id
    """,
)
def q_neardup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the verified pair
    graph (operators/simdedup.neardup_components — iterative min-label
    propagation, rounds = component diameter). Near-duplication is
    transitive in practice, so corpus dedup keeps one doc per component
    (keeper = min doc_id = cluster_id), not one per pair. Oracle: the
    same pair CTEs wrapped in a recursive transitive-closure CTE."""
    d = _t(spark, sf_dir, "documents")
    pairs = simdedup.minhash_verified_pairs(d, k=8, threshold=0.5)
    return simdedup.neardup_components(pairs)


@register(
    "embed_neardup",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE floor(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                * 1000000.0 + 0.5) / 1000000.0 >= 0.35
    """,
)
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs —
    operators/simdedup.embedding_neardup_pairs (brute verification form;
    ANN bucketing is the scale path). force=True: the sf corpora are
    in-regime by construction, and the size-guard probe executes a
    limit+count job at DataFrame-BUILD time — which the registry's
    plan-only contract (test_plan_audit) forbids and the bench would
    book as query cost; the guard itself is covered by
    test_embedding_neardup_size_guard."""
    e = _t(spark, sf_dir, "embeddings")
    return simdedup.embedding_neardup_pairs(e, threshold=0.35, force=True)


@register(
    "ann_topk",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             floor(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
                   * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM e, q WHERE e.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT)
               AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_ann_topk(spark, sf_dir):
    """Exact brute-force cosine top-k (ANN baseline) —
    operators/ann.cosine_topk; the query side is broadcast so the corpus
    scan is shuffle-free."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    out = ann.cosine_topk(e, q, k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# ===========================================================================
# Flagship corpus pipeline (rows-only: the langid/perplexity/audio UDF
# models are not SQL-expressible — the pandas oracle in tests covers them)
# ===========================================================================

@register(
    "regional_revenue",
    """
    SELECT r_name AS region, n_name AS nation,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY r_name, n_name
    """,
)
def q_regional_revenue(spark, sf_dir):
    """J1+ depth — five-way star join (TPC-H Q5 shape): fact lineitem ⋈
    orders (filtered year, pushed below the join) ⋈ customer ⋈ broadcast
    nation ⋈ broadcast region. The two dim tables are explicitly
    broadcast (25 / 5 rows at any sf); orders/customer join on their
    keys with AQE free to pick broadcast at small sf. Exact decimal
    revenue, cast to double only at the end."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_ADV_NUM = ["event_id", "user_id", "value"]
_ADV_CAT = ["event_type", "props"]
_ADV_DT = ["ts"]


def _advisor_sql() -> str:
    cols = _ADV_NUM + _ADV_CAT + _ADV_DT
    stats = ["count(*) AS n"]
    stats += [
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_{c}"
        for c in cols
    ]
    for c in _ADV_NUM:
        stats += [
            f"min(CAST({c} AS DOUBLE)) AS min_{c}",
            f"max(CAST({c} AS DOUBLE)) AS max_{c}",
            f"stddev_samp(CAST({c} AS DOUBLE)) AS std_{c}",
            f"avg(CAST({c} AS DOUBLE)) AS mean_{c}",
        ]
    for i, a in enumerate(_ADV_NUM):
        for b in _ADV_NUM[i + 1 :]:
            stats.append(
                f"corr(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE)) AS corr_{a}_{b}"
            )
    for c in _ADV_CAT:
        stats.append(f"count(DISTINCT {c}) AS card_{c}")
    branches = []
    for c in cols:
        pct = f"100.0 * null_{c} / n"
        branches.append(
            f"SELECT 'missing_high' AS category, '{c}' AS \"column\","
            f" round({pct}, 4) AS metric, 'drop' AS strategy FROM s"
            f" WHERE n > 0 AND {pct} > 50.0"
        )
        strat = "impute_mean_median" if c in _ADV_NUM else "impute_mode_unknown"
        branches.append(
            f"SELECT 'missing_impute', '{c}', round({pct}, 4), '{strat}' FROM s"
            f" WHERE n > 0 AND {pct} > 10.0 AND {pct} <= 50.0"
        )
    # class imbalance: categorical cols with 1 < cardinality < 20 only
    # (single-class columns are never "imbalanced" — ml_advisor.py
    # _check_data_balance reports only when len(value_counts) > 1)
    for c in _ADV_CAT:
        branches.append(
            f"""SELECT 'class_imbalance', '{c}', round(t.share, 4),
               CASE WHEN t.share > 80.0 THEN 'severe_resample'
                    ELSE 'moderate_class_weights' END
            FROM s, (SELECT 100.0 * count(*) / (SELECT n FROM s) AS share
                     FROM events WHERE {c} IS NOT NULL
                     GROUP BY {c} ORDER BY count(*) DESC, {c} ASC LIMIT 1) t
            WHERE s.card_{c} > 1 AND s.card_{c} < 20 AND t.share > 70.0"""
        )
    for c in _ADV_DT:
        branches.append(
            f"SELECT 'date_features', '{c}', CAST(NULL AS DOUBLE),"
            f" 'extract_year_month_dow' FROM s"
        )
    for i, a in enumerate(_ADV_NUM):
        for b in _ADV_NUM[i + 1 :]:
            branches.append(
                f"SELECT 'high_correlation', '{a}&{b}', round(abs(corr_{a}_{b}), 4),"
                f" 'drop_one' FROM s WHERE abs(corr_{a}_{b}) > 0.8"
            )
    for c in _ADV_CAT:
        branches.append(
            f"""SELECT 'encoding', '{c}', CAST(card_{c} AS DOUBLE),
               CASE WHEN card_{c} = 2 THEN 'label'
                    WHEN card_{c} BETWEEN 3 AND 10 THEN 'one_hot'
                    WHEN card_{c} BETWEEN 11 AND 50 THEN 'target_or_embedding'
                    ELSE 'hash_or_frequency' END
            FROM s WHERE card_{c} >= 2"""
        )
    for c in _ADV_NUM:
        cv = f"(CASE WHEN mean_{c} <> 0 THEN abs(std_{c} / mean_{c}) ELSE 1e308 END)"
        branches.append(
            f"SELECT 'wide_range', '{c}', round(max_{c} - min_{c}, 4),"
            f" 'standard_or_minmax_scale' FROM s WHERE std_{c} > 0"
            f" AND (max_{c} - min_{c} > 1000.0 OR {cv} > 1.0)"
        )
        branches.append(
            f"SELECT 'low_variance', '{c}', round(std_{c}, 4), 'remove' FROM s"
            f" WHERE std_{c} IS NOT NULL AND std_{c} < 0.01"
        )
    return (
        "WITH s AS (SELECT " + ",\n       ".join(stats) + " FROM events)\n"
        + "\nUNION ALL\n".join(branches)
    )


@register("ml_recommendations", _advisor_sql())
def q_ml_recommendations(spark, sf_dir):
    """The reference's ML-advisor recommendation engine
    (ml_advisor.py:93-317) over the events table — every trigger tier as
    a structured (category, column, metric, strategy) row, exactly
    thresholded — operators/advisor.ml_recommendations."""
    from .operators.advisor import ml_recommendations

    return ml_recommendations(
        spark, _t(spark, sf_dir, "events"), _ADV_NUM, _ADV_CAT, _ADV_DT
    )


@register(
    "cell_missing_pct",
    """
    WITH m AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                + sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                + sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                + sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                + sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                + sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing_cells
      FROM events
    )
    SELECT n_rows, CAST(6 AS BIGINT) AS n_cols, n_missing_cells,
           round(CASE WHEN n_rows > 0
                      THEN n_missing_cells * 100.0 / (n_rows * 6)
                      ELSE 0.0 END, 4) AS missing_pct
    FROM m
    """,
)
def q_cell_missing_pct(spark, sf_dir):
    """A17 — global cell-missing percentage (ml_advisor.py:96-99:
    total_missing/total_cells), one aggregate pass over all columns —
    operators/metrics.cell_missing_stats."""
    from .operators.metrics import cell_missing_stats

    return cell_missing_stats(_t(spark, sf_dir, "events"))


_SUMMARY_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


@register(
    "summary_stats_lineitem",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS "column",
           CAST(count({c}) AS BIGINT) AS n,
           round(avg(CAST({c} AS DOUBLE)), 4) AS mean,
           round(stddev_samp(CAST({c} AS DOUBLE)), 4) AS stddev,
           round(min(CAST({c} AS DOUBLE)), 4) AS min,
           round(quantile_cont(CAST({c} AS DOUBLE), 0.25), 4) AS q25,
           round(quantile_cont(CAST({c} AS DOUBLE), 0.5), 4) AS median,
           round(quantile_cont(CAST({c} AS DOUBLE), 0.75), 4) AS q75,
           round(max(CAST({c} AS DOUBLE)), 4) AS max
    FROM lineitem
    """
        for c in _SUMMARY_COLS
    ),
)
def q_summary_stats_lineitem(spark, sf_dir):
    """A16 — the describe()/df.summary() analog (reporting.py:35), exact
    linear-interpolation percentiles, long format — operators/metrics.
    summary_stats (scalable path: one cheap moment aggregate + bracket
    -and-count exact quantiles per column, never a whole-column
    aggregation buffer)."""
    from .operators.metrics import summary_stats

    return summary_stats(_t(spark, sf_dir, "lineitem"), _SUMMARY_COLS)


_CAT_COLS = ["event_type", "user_id"]


@register(
    "summary_stats_categorical",
    "\nUNION ALL\n".join(
        f"""
    SELECT * FROM (
      WITH pv AS (
        SELECT CAST({c} AS VARCHAR) AS value, count(*) AS cnt
        FROM events WHERE {c} IS NOT NULL GROUP BY 1
      ),
      s AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_unique,
               CAST(max(cnt) AS BIGINT) AS freq
        FROM pv
      )
      SELECT '{c}' AS "column", n, n_unique,
             (SELECT min(value) FROM pv WHERE cnt = s.freq) AS top, freq
      FROM s
    )
    """
        for c in _CAT_COLS
    ),
)
def q_summary_stats_categorical(spark, sf_dir):
    """A16, categorical half — describe(include='all') top/freq/unique for
    object columns (reporting.py:35) — operators/metrics.
    summary_stats_categorical: ONE stacked job for all columns, no
    per-column scan loop."""
    from .operators.metrics import summary_stats_categorical

    return summary_stats_categorical(_t(spark, sf_dir, "events"), _CAT_COLS)


from .corpus.generator import FIXTURE_VERSION as _GEN_V

# cache filenames embed the generator content version (v1 = unversioned
# round-1 names, kept stable for driver continuity); a generator change
# bumps FIXTURE_VERSION and orphans any stale /tmp fixture automatically
_TAG = "" if _GEN_V == 1 else f"_v{_GEN_V}"

from .operators.audiofp import FP_SPEC_VERSION as _FP_SPEC_V

# fingerprint fixtures additionally embed the fingerprint SPEC version
_FP_V = f"s{_FP_SPEC_V}"


def _sf_of(sf_dir: str) -> tuple[str, float]:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base, (float(base[2:]) if base.startswith("sf") else 0.01)


def _publish(path: str, build: Callable[[str], object], marker: str = "") -> str:
    """Build a /tmp fixture once and publish it whole: ``build(tmp)``
    writes a file or directory at a pid-suffixed tmp path (two concurrent
    generators, e.g. a driver smoke check racing the bench, never share
    one), then a rename puts it at ``path``, so a crash never leaves a
    half-written fixture there. A fixture counts as built when
    ``path/marker`` exists (``marker=""``: ``path`` itself). Deterministic
    builders make a lost race harmless: both renames publish the same
    rows. Returns ``path``."""
    if not os.path.exists(os.path.join(path, marker) if marker else path):
        tmp = f"{path}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def _clips_path(sf_dir: str) -> str:
    """Deterministic synthetic clips corpus cached per sf (TESTDATA has no
    clips table; BASELINE.json directs us to synthesize the input_hint
    shape at small scale)."""
    base, sf = _sf_of(sf_dir)
    path = f"/tmp/dqc_clips_{base}{_TAG}.parquet"
    if not os.path.exists(path):
        from .corpus.generator import write_clips_parquet

        write_clips_parquet(path, sf)
    return path


def _fps_table(spark, sf_dir: str) -> DataFrame:
    """Build-once fingerprint side-table per (sf, spec version) — the
    Faiss build-once/probe-many shape the IVF index already uses
    (operators/audiofp.fingerprint_table). Fingerprinting (decode +
    resample + FFT over every payload byte) is ~75% of the near-dup
    operators' wall-time and is identical across audio_neardup_pairs /
    audio_neardup_clusters / clips_content_decisions; at 10^12 clips it
    runs once per ingest, never per query. tmp+rename publish, same
    crash discipline as every other /tmp fixture here."""
    from .operators.audiofp import fingerprint_table

    base, _sf = _sf_of(sf_dir)
    # t2: table format gained the rep_id column (payload_reps map), which
    # content_dedup_decisions requires of its fps frame
    path = _publish(
        f"/tmp/dqc_fps_{_FP_V}t2_{base}{_TAG}",
        lambda tmp: fingerprint_table(spark.read.parquet(_clips_path(sf_dir)), tmp),
        marker="_SUCCESS",
    )
    return spark.read.parquet(path)


def ensure_expected_fixtures(sf_dir: str) -> tuple[str, str]:
    """Write (once, deterministically) the pandas-oracle ground-truth
    labels for the synthetic corpus at this sf:

    * ``dqc_expected_labels_{sf}.parquet`` — (clip_id, keep, rules_fired
      [comma-joined, name-sorted], scrubbed_transcript);
    * ``dqc_expected_findings_{sf}.parquet`` — (clip_id, rule, severity).

    These make the flagship pipeline DuckDB-oracle-able: the oracle SQL
    reads the fixture, so the driver's hash compares the Spark pipeline
    against the independently-implemented eager pandas labeler
    (oracle/pandas_oracle.py — reference semantics, separate code path).
    Writes are tmp+rename so a crash never leaves a poisoned fixture.
    """
    base, sf = _sf_of(sf_dir)
    labels_path = f"/tmp/dqc_expected_labels_{base}{_TAG}.parquet"
    findings_path = f"/tmp/dqc_expected_findings_{base}{_TAG}.parquet"
    if os.path.exists(labels_path) and os.path.exists(findings_path):
        return labels_path, findings_path

    import pandas as pd

    from .corpus.generator import generate_clips
    from .oracle.pandas_oracle import RULES, label_clips

    labels = label_clips(generate_clips(sf))
    out = labels.copy()
    out["rules_fired"] = out["rules_fired"].map(",".join)
    findings = pd.DataFrame(
        [
            {"clip_id": r.clip_id, "rule": rule, "severity": RULES[rule][0]}
            for r in labels.itertuples()
            for rule in r.rules_fired
        ],
        columns=["clip_id", "rule", "severity"],
    )
    for pdf, path in ((out, labels_path), (findings, findings_path)):
        _publish(path, lambda tmp, pdf=pdf: pdf.to_parquet(tmp, index=False))
    return labels_path, findings_path


# Delta config exercised by the driver-gated re-score row — one change
# per rule family (scorer threshold, range bound, whitelist, disabled
# rule), mirroring tests/test_rescore.py. Shared by the Spark query and
# the pandas-labeler fixture below.
RESCORE_DELTA = dict(
    perplexity_max=30.0,
    dur_ms_min=700,
    sr_hz_whitelist=(16000, 44100, 48000),
    disabled_rules=("pii_phone",),
)


def ensure_rescore_fixture(sf_dir: str) -> str:
    """Expected decisions under RESCORE_DELTA from the independent eager
    pandas labeler (oracle/pandas_oracle.py) — the ground truth the
    metrics-table re-score must reproduce without re-reading any audio."""
    import dataclasses

    from .config import DEFAULT_CONFIG
    from .corpus.generator import generate_clips
    from .oracle.pandas_oracle import label_clips

    base, sf = _sf_of(sf_dir)

    def build(tmp: str) -> None:
        cfg2 = dataclasses.replace(DEFAULT_CONFIG, **RESCORE_DELTA)
        out = label_clips(generate_clips(sf), cfg2)
        out["rules_fired"] = out["rules_fired"].map(lambda r: ",".join(sorted(r)))
        out.to_parquet(tmp, index=False)

    return _publish(f"/tmp/dqc_expected_rescore_{base}{_TAG}.parquet", build)


@register(
    "clips_rescored_decisions",
    f"""
    SELECT clip_id, keep, rules_fired, scrubbed_transcript
    FROM read_parquet('/tmp/dqc_expected_rescore_sf0.01{_TAG}.parquet')
    """,
)
def q_clips_rescored_decisions(spark, sf_dir):
    """Config-delta re-score, driver-gated end to end (run/rescore.py):
    the slim metrics table is built ONCE per sf (one enrichment pass,
    cached in /tmp like the other fixtures), then decisions under
    RESCORE_DELTA are derived from it with zero UDFs and zero payload
    reads — hash-checked against the pandas labeler running the FULL
    eager pipeline under the same delta config. Green means the
    metrics-table split loses no rule semantics."""
    import dataclasses

    from .config import DEFAULT_CONFIG
    from .run.rescore import rescore_decisions, write_metrics

    base, _sf = _sf_of(sf_dir)
    mpath = _publish(
        f"/tmp/dqc_metrics_{base}{_TAG}",
        lambda tmp: write_metrics(spark, spark.read.parquet(_clips_path(sf_dir)), tmp),
        marker="_SUCCESS",
    )
    cfg2 = dataclasses.replace(DEFAULT_CONFIG, **RESCORE_DELTA)
    out = rescore_decisions(spark.read.parquet(mpath), cfg2)
    return out.select(
        "clip_id",
        "keep",
        F.concat_ws(",", F.array_sort("rules_fired")).alias("rules_fired"),
        "scrubbed_transcript",
    )


@register(
    "clips_findings_summary",
    f"""
    SELECT severity, rule, CAST(count(*) AS BIGINT) AS n
    FROM read_parquet('/tmp/dqc_expected_findings_sf0.01{_TAG}.parquet')
    GROUP BY severity, rule
    """,
)
def q_clips_findings_summary(spark, sf_dir):
    """Flagship: severity × rule histogram over per-clip findings
    (validator.py:326-341 analog). Oracle = the same histogram over the
    pandas-oracle expected-findings fixture (driver correctness runs at
    sf0.01; ensure_expected_fixtures writes it)."""
    from .pipeline import run_pipeline

    clips = spark.read.parquet(_clips_path(sf_dir))
    res = run_pipeline(spark, clips)
    return res.summary.orderBy("severity", "rule")


@register(
    "clips_decisions_labels",
    f"""
    SELECT clip_id, keep, rules_fired, scrubbed_transcript
    FROM read_parquet('/tmp/dqc_expected_labels_sf0.01{_TAG}.parquet')
    """,
)
def q_clips_decisions_labels(spark, sf_dir):
    """Flagship parity projection: (clip_id, keep, rules_fired,
    scrubbed_transcript) from the Spark pipeline, hash-checked against the
    eager pandas reference labeler's fixture (oracle/pandas_oracle.py) —
    the driver-visible form of the F1/rules/scrub parity gate. Float
    model outputs (lang_conf, perplexity, clip_ratio) are excluded here
    on purpose: cross-engine fp noise; the full frame is clips_decisions
    (rows-only)."""
    from .pipeline import run_pipeline

    clips = spark.read.parquet(_clips_path(sf_dir))
    return run_pipeline(spark, clips).decisions.select(
        "clip_id",
        "keep",
        F.concat_ws(",", F.col("rules_fired")).alias("rules_fired"),
        "scrubbed_transcript",
    )


@register(
    "clips_content_decisions",
    f"""
    SELECT clip_id, keep, rules_fired
    FROM read_parquet('/tmp/dqc_expected_content{_FP_V}_sf0.01{_TAG}.parquet')
    """,
)
def q_clips_content_decisions(spark, sf_dir):
    """The flagship pipeline COMPOSED with the content-dedup post-pass
    (operators/audiofp.content_dedup_decisions): gain-scaled / transcoded
    / resampled copies the byte-SHA tier missed drop with
    'content_duplicate'. Hash-checked against an independent eager
    labeler (pandas rules + union-find over popcount-verified pairs,
    oracle/audio_oracle.label_content_decisions). rules_fired is
    name-sorted on both sides for a stable compare."""
    from .operators.audiofp import content_dedup_decisions
    from .pipeline import run_pipeline

    clips = spark.read.parquet(_clips_path(sf_dir))
    dec = run_pipeline(spark, clips).decisions
    return content_dedup_decisions(clips, dec, fps=_fps_table(spark, sf_dir)).select(
        "clip_id",
        "keep",
        F.concat_ws(",", F.array_sort("rules_fired")).alias("rules_fired"),
    )


def ensure_audio_fixtures(sf_dir: str) -> dict[str, str]:
    """Write (once, deterministically) the eager audio-oracle expected
    outputs for the synthetic corpus at this sf — the audio-tier analog of
    ensure_expected_fixtures: features / VAD segments / resample stats
    computed by the independent per-row labeler (oracle/audio_oracle.py),
    parquet'd so DuckDB can hash-compare the Spark operators against them.
    tmp+rename writes; cache keyed by sf + generator version."""
    base, sf = _sf_of(sf_dir)
    paths = {
        "features": f"/tmp/dqc_expected_audio_{base}{_TAG}.parquet",
        "segments": f"/tmp/dqc_expected_segments_{base}{_TAG}.parquet",
        "resample": f"/tmp/dqc_expected_resample_{base}{_TAG}.parquet",
        "fingerprints": f"/tmp/dqc_expected_fp{_FP_V}_{base}{_TAG}.parquet",
        "fp_pairs": f"/tmp/dqc_expected_fppairs{_FP_V}_{base}{_TAG}.parquet",
        "content_labels": f"/tmp/dqc_expected_content{_FP_V}_{base}{_TAG}.parquet",
    }
    if all(os.path.exists(p) for p in paths.values()):
        return paths

    from .corpus.generator import generate_clips
    from .oracle import audio_oracle

    clips = generate_clips(sf).drop(columns=["defect"])
    # decode+FFT ONCE (audio_oracle.fingerprint_map) and share it: the
    # pair fixture and the content fixture each re-derived the full
    # fingerprint map before, tripling the dominant fixture-build cost
    # (~8 min per decode pass at the 200k-clip sf10 sweep). max_ber is
    # only the final filter of label_fingerprint_pairs, so the content
    # tier's 0.1 frame is exactly the 0.25 frame filtered.
    fps_map = audio_oracle.fingerprint_map(clips)
    fp_pairs = audio_oracle.label_fingerprint_pairs(clips, fps=fps_map)
    content_pairs = fp_pairs[fp_pairs.ber <= 0.1].reset_index(drop=True)
    outs = {
        "features": audio_oracle.label_audio_features(clips),
        "segments": audio_oracle.label_vad_segments(clips),
        "resample": audio_oracle.label_resample_stats(clips),
        "fingerprints": audio_oracle.label_audio_fingerprints(clips),
        "fp_pairs": fp_pairs,
        "content_labels": audio_oracle.label_content_decisions(
            clips, pairs=content_pairs
        ),
    }
    for k, pdf in outs.items():
        _publish(paths[k], lambda tmp, pdf=pdf: pdf.to_parquet(tmp, index=False))
    return paths


@register(
    "audio_features",
    f"""
    SELECT * FROM read_parquet('/tmp/dqc_expected_audio_sf0.01{_TAG}.parquet')
    """,
)
def q_audio_features(spark, sf_dir):
    """Framewise audio content profile (silence ratio, lead/trail trim
    points, voiced segments count, ZCR, RMS dBFS) per clip —
    operators/audio.audio_features: one map-only Arrow-batched scan, no
    shuffle. Oracle: the independently-implemented eager pandas labeler's
    fixture (oracle/audio_oracle.label_audio_features) — integer-exact
    framewise math makes the comparison bit-stable."""
    from .operators.audio import audio_features

    clips = spark.read.parquet(_clips_path(sf_dir))
    return audio_features(clips)


@register(
    "vad_segments",
    f"""
    SELECT clip_id, seg_idx, start_ms, end_ms
    FROM read_parquet('/tmp/dqc_expected_segments_sf0.01{_TAG}.parquet')
    """,
)
def q_vad_segments(spark, sf_dir):
    """Energy-threshold VAD segmentation: one row per contiguous voiced
    frame run per clip — operators/audio.vad_segments (map-only scan +
    generator explode). Oracle: eager labeler fixture
    (oracle/audio_oracle.label_vad_segments); all-integer columns."""
    from .operators.audio import vad_segments

    clips = spark.read.parquet(_clips_path(sf_dir))
    return vad_segments(clips)


@register(
    "audio_chunks",
    f"""
    WITH c AS (
      SELECT clip_id, CAST(dur_ms AS BIGINT) AS dur_ms
      FROM read_parquet('/tmp/dqc_clips_sf0.01{_TAG}.parquet')
      WHERE dur_ms IS NOT NULL AND dur_ms > 0
    ),
    s AS (
      SELECT clip_id, dur_ms,
             unnest(generate_series(0, dur_ms - 1, 4500)) AS start_ms
      FROM c
    )
    SELECT clip_id,
           CAST(start_ms // 4500 AS INT) AS chunk_idx,
           start_ms,
           least(start_ms + 5000, dur_ms) AS end_ms
    FROM s
    WHERE start_ms = 0 OR least(start_ms + 5000, dur_ms) - start_ms >= 1000
    """,
)
def q_audio_chunks(spark, sf_dir):
    """Training-chunk planning (5 s chunks, 500 ms overlap, ≥1 s tail)
    from clip metadata — operators/audio.chunk_plan: pure Catalyst
    sequence+posexplode, whole-stage codegen, zero shuffle, no decode.
    Oracle: the same arithmetic in DuckDB generate_series over the clips
    fixture (a direct SQL oracle — no labeler needed)."""
    from .operators.audio import chunk_plan

    clips = spark.read.parquet(_clips_path(sf_dir))
    return chunk_plan(clips)


@register(
    "audio_resample_stats",
    f"""
    SELECT clip_id, out_sr, n_out, sum_abs
    FROM read_parquet('/tmp/dqc_expected_resample_sf0.01{_TAG}.parquet')
    """,
)
def q_audio_resample_stats(spark, sf_dir):
    """Sample-rate normalization to 16 kHz (rational-position linear
    interpolation, integer-exact output stats) —
    operators/audio.resample_clips projected to (clip_id, out_sr, n_out,
    sum_abs); the resampled PCM itself is covered by the pytest SNR≥30dB
    gate (test_audio_ops.py). Oracle: eager labeler fixture
    (oracle/audio_oracle.label_resample_stats)."""
    from .operators.audio import resample_clips

    clips = spark.read.parquet(_clips_path(sf_dir))
    return resample_clips(clips).select("clip_id", "out_sr", "n_out", "sum_abs")


@register(
    "audio_fingerprints",
    f"""
    SELECT clip_id, n_subfp, fp_str
    FROM read_parquet('/tmp/dqc_expected_fp{_FP_V}_sf0.01{_TAG}.parquet')
    """,
)
def q_audio_fingerprints(spark, sf_dir):
    """Robust content fingerprint per clip (Philips/Haitsma-Kalker-style
    band-energy sign hash at the normalized 16 kHz) —
    operators/audiofp.audio_fingerprints: one map-only Arrow scan
    (decode + resample + FFT per batch), no shuffle. The array is
    comma-joined to a stable scalar for the driver's pandas
    canonicalizer (same policy as rules_fired). Oracle: eager per-frame
    labeler fixture (oracle/audio_oracle.label_audio_fingerprints) —
    the spec pins every float primitive, so the bits are identical."""
    from .operators.audiofp import audio_fingerprints

    clips = spark.read.parquet(_clips_path(sf_dir))
    fps = audio_fingerprints(clips)
    return fps.select(
        "clip_id",
        "n_subfp",
        F.when(
            F.col("fp").isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat_ws(",", F.col("fp"))).alias("fp_str"),
    )


@register(
    "audio_neardup_pairs",
    f"""
    SELECT clip_a, clip_b, n_overlap, ber
    FROM read_parquet('/tmp/dqc_expected_fppairs{_FP_V}_sf0.01{_TAG}.parquet')
    """,
)
def q_audio_neardup_pairs(spark, sf_dir):
    """CONTENT-level audio near-duplicate pairs: shared-token candidate
    equi-join + bit-error-rate verification over the fingerprint arrays
    — operators/audiofp.fingerprint_neardup_pairs (the audio analog of
    the text MinHash-LSH→verify stack; catches gain-scaled / transcoded
    / resampled copies that byte-SHA dedup cannot). Oracle: eager
    dict-indexed labeler fixture
    (oracle/audio_oracle.label_fingerprint_pairs)."""
    from .operators.audiofp import fingerprint_neardup_pairs

    clips = spark.read.parquet(_clips_path(sf_dir))
    return fingerprint_neardup_pairs(clips, fps=_fps_table(spark, sf_dir))


@register(
    "audio_neardup_clusters",
    f"""
    WITH RECURSIVE
    vp AS (SELECT clip_a, clip_b
           FROM read_parquet('/tmp/dqc_expected_fppairs{_FP_V}_sf0.01{_TAG}.parquet')),
    nodes AS (SELECT clip_a AS clip_id FROM vp UNION SELECT clip_b FROM vp),
    edges AS (SELECT clip_a AS u, clip_b AS v FROM vp
              UNION ALL SELECT clip_b, clip_a FROM vp),
    walk(clip_id, label) AS (
        SELECT clip_id, clip_id FROM nodes
      UNION
        SELECT e.u, w.label FROM walk w JOIN edges e ON e.v = w.clip_id
    )
    SELECT clip_id, min(label) AS cluster_id,
           (clip_id != min(label)) AS is_dup
    FROM walk GROUP BY clip_id
    """,
)
def q_audio_neardup_clusters(spark, sf_dir):
    """Content near-dup CLUSTERS over the audio corpus: connected
    components of the verified fingerprint-pair graph (reuses
    operators/simdedup.neardup_components — min-label propagation), so
    corpus dedup keeps one clip per content clique (keeper = min clip_id)
    even when A≈B≈C arrive via different transforms. Oracle: recursive
    transitive-closure CTE over the fingerprint-pairs fixture."""
    from .operators.audiofp import fingerprint_neardup_pairs
    from .operators.simdedup import neardup_components

    clips = spark.read.parquet(_clips_path(sf_dir))
    pairs = fingerprint_neardup_pairs(clips, fps=_fps_table(spark, sf_dir)).select(
        F.col("clip_a").alias("doc_a"), F.col("clip_b").alias("doc_b")
    )
    return neardup_components(pairs).select(
        F.col("doc_id").alias("clip_id"),
        F.col("cluster_id"),
        "is_dup",
    )


def _ivfpq_index(spark, sf_dir: str) -> str:
    """The IVF-PQ index over sf_dir's embeddings, built once per sf into
    a deterministic /tmp path and probed thereafter — the Faiss
    build-once/search-many shape. Shared by the registry row and the
    bench's planted-recall regimes."""
    base, _sf = _sf_of(sf_dir)
    e = _t(spark, sf_dir, "embeddings")
    return _publish(
        f"/tmp/dqc_ivfpq_{base}{_TAG}",
        lambda tmp: ann.build_ivfpq_index(e, tmp),
        marker="quantizers.npz",
    )


@register("ann_ivfpq_topk", None)
def q_ann_ivfpq_topk(spark, sf_dir):
    """Approximate top-k via the PRODUCT-QUANTIZED inverted file, the one
    approximate ANN index (operators/ann.build_ivfpq_index /
    ivfpq_topk_from_index, at the module's measured defaults): postings
    hold pq_m=16 one-byte codes per vector instead of the raw floats
    (32× smaller at dim 64 — the memory-bounded tier for 10^12-vector
    corpora), ADC table-lookup scoring inside mapInPandas over a
    partition-pruned read, exact-cosine refine on the top candidates.
    Rows-only: the two k-means fits are not SQL-expressible; bench
    reports measured recall vs ann_topk (`ann_ivfpq_recall`)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    out = ann.ivfpq_topk_from_index(spark, _ivfpq_index(spark, sf_dir), q, refine_emb=e)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# --- multimodal image tier (round 5: PPM/PGM/BMP decode unstubbed) ----

# media fixtures embed the media-generator version
from .corpus.media import MEDIA_VERSION as _MEDIA_V  # noqa: E402

_MV = f"mv{_MEDIA_V}"


def _media_path(sf_dir: str) -> str:
    """Deterministic synthetic media corpus cached per sf (image modality
    analog of _clips_path; corpus/media.py)."""
    from .corpus.media import write_media_parquet

    base, sf = _sf_of(sf_dir)
    return _publish(
        f"/tmp/dqc_media_{_MV}_{base}{_TAG}.parquet",
        lambda tmp: write_media_parquet(tmp, sf),
    )


def ensure_image_fixtures(sf_dir: str) -> str:
    """Write (once) the byte-walking image labeler's expected features
    for the synthetic media corpus at this sf —
    oracle/image_oracle.label_image_features, the image analog of
    ensure_audio_fixtures. tmp+rename publish."""
    import pandas as pd

    from .oracle.image_oracle import label_image_features

    base, _sf = _sf_of(sf_dir)
    return _publish(
        f"/tmp/dqc_expected_imgfeat_{_MV}_{base}{_TAG}.parquet",
        lambda tmp: label_image_features(
            pd.read_parquet(_media_path(sf_dir))
        ).to_parquet(tmp, index=False),
    )


@register(
    "multimodal_image_features",
    f"""
    SELECT media_id, width, height, mean_luma, decode_ok
    FROM read_parquet('/tmp/dqc_expected_imgfeat_{_MV}_sf0.01{_TAG}.parquet')
    """,
)
def q_multimodal_image_features(spark, sf_dir):
    """Image feature extraction over the multimodal media table —
    operators/multimodal.image_features: column-pruned payload scan →
    iterator-of-batches mapInPandas → slim (width, height, mean_luma,
    decode_ok) frame; PPM/PGM/BMP payloads decode with REAL pure-numpy
    codecs (corpus/image.py — round 5 unstubs the image modality),
    malformed/unsupported payloads are decode failures, other modalities
    are filtered before the payload ever moves. Oracle: the independent
    byte-walking labeler's fixture (oracle/image_oracle.py — struct
    header walks + exact-integer luma accumulation, so the doubles are
    bit-identical)."""
    from .operators.multimodal import image_features

    media = spark.read.parquet(_media_path(sf_dir))
    return image_features(media)


def ensure_video_fixtures(sf_dir: str) -> str:
    """Write (once) the byte-walking video labeler's expected sampled
    frames for the synthetic media corpus at this sf —
    oracle/video_oracle.label_frame_samples, the video analog of
    ensure_image_fixtures. tmp+rename publish."""
    import pandas as pd

    from .oracle.video_oracle import label_frame_samples

    base, _sf = _sf_of(sf_dir)
    return _publish(
        f"/tmp/dqc_expected_vidframes_{_MV}_{base}{_TAG}.parquet",
        lambda tmp: label_frame_samples(
            pd.read_parquet(_media_path(sf_dir)), n_frames=4
        ).to_parquet(tmp, index=False),
    )


@register(
    "multimodal_video_frames",
    f"""
    SELECT media_id, frame_idx, frame_ms, frame_luma
    FROM read_parquet('/tmp/dqc_expected_vidframes_{_MV}_sf0.01{_TAG}.parquet')
    """,
)
def q_multimodal_video_frames(spark, sf_dir):
    """Video frame sampling over the multimodal media table —
    operators/multimodal.frame_samples: column-pruned payload scan →
    iterator-of-batches mapInPandas → 1 video row fanned out to 4
    (frame_idx, frame_ms, frame_luma) rows; Y4M/YUV4MPEG2 payloads
    decode with the REAL pure-numpy codec (corpus/video.py — round 5
    unstubs the video modality the way PPM/PGM/BMP unstubbed image),
    malformed/truncated/unsupported-chroma payloads emit no rows, other
    modalities are filtered before the payload ever moves. Oracle: the
    independent byte-walking labeler's fixture (oracle/video_oracle.py
    — ASCII header walk + exact-integer luma sums over raw plane bytes,
    so the doubles are bit-identical)."""
    from .operators.multimodal import frame_samples

    media = spark.read.parquet(_media_path(sf_dir))
    return frame_samples(media, n_frames=4)


# Driver-cap discipline (round-4 curation, VERDICT r3 item 2): the
# driver records verdicts for at most 50 registered queries, so the
# registry is kept ≤50 — every registered query gets a FRESH verdict
# every round. The 15-row overshoot was removed by (a) deleting the
# doubly-covered redundancies (topk_orders ← top_unshipped_orders;
# ngram_jaccard ← minhash_verified_pairs' exact-verify stage;
# nation_rollup ← regional_revenue; minhash_sigs ← minhash_lsh_pairs;
# quantiles_price ← quantiles_price_scalable, identical oracle;
# clips_decisions ← clips_decisions_labels, same pipeline) and
# (b) merging the single-row same-table scalar aggregates into four
# stacked profile queries (events_profile, lineitem_profile,
# orders_profile, documents_profile) whose oracles preserve every
# absorbed column hash-exactly. _FIRST still pins the flagship parity
# oracles and anything modified this round at the head, so even a
# cap regression can never drop them.
_FIRST = [
    "clips_decisions_labels",
    "multimodal_image_features",
    "multimodal_video_frames",
    "clips_findings_summary",
    "ml_recommendations",
    "clips_rescored_decisions",
    "clips_content_decisions",
    "ann_ivfpq_topk",
    "audio_neardup_pairs",
    "embed_neardup",
    "events_profile",
    "lineitem_profile",
    "orders_profile",
    "documents_profile",
    "ann_topk",
    "regional_revenue",
    "cell_missing_pct",
    "summary_stats_lineitem",
]


def _ordered_names() -> list[str]:
    mid = [n for n in _QUERIES if n not in _FIRST]
    return [n for n in _FIRST if n in _QUERIES] + mid


def queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _ordered_names()}


# The driver's correctness contract sf: oracle_sql() strings embed
# fixture paths at this base, and the driver runs them at this sf only.
FIXTURE_SF_BASE = "sf0.01"


def oracles() -> dict[str, str]:
    # The clips oracles read pandas-oracle fixtures under /tmp; make sure
    # they exist before any SQL runs (driver correctness runs at sf0.01).
    try:
        _ensure_all_fixtures(f"/root/testdata/{FIXTURE_SF_BASE}")
    except Exception:
        pass
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


def _ensure_all_fixtures(sf_dir: str) -> None:
    ensure_expected_fixtures(sf_dir)
    ensure_audio_fixtures(sf_dir)
    ensure_rescore_fixture(sf_dir)
    ensure_image_fixtures(sf_dir)
    ensure_video_fixtures(sf_dir)
    _clips_path(sf_dir)  # audio_chunks SQL reads it


def fixture_oracles() -> set[str]:
    """Names whose oracle SQL reads a /tmp pandas-labeler fixture (pinned
    to FIXTURE_SF_BASE in the driver-contract form) rather than the
    sf-relative TPC-H parquet views — the explicit pin tools should use
    instead of substring-sniffing the SQL text."""
    return {n for n, sql in _ORACLES.items() if f"_{FIXTURE_SF_BASE}" in sql}


def oracles_for(sf_dir: str) -> dict[str, str]:
    """Oracle SQL retargeted to ``sf_dir``: regenerates every
    pandas-labeler fixture at that sf (deterministic, cached in /tmp)
    and rewrites the fixture paths, so the FULL gate — flagship label
    oracles included — runs at any scale, not just the driver's sf0.01.
    ``oracles()`` remains the driver-contract (sf0.01-pinned) form."""
    base, _sf = _sf_of(sf_dir)
    if base == FIXTURE_SF_BASE:
        return oracles()
    _ensure_all_fixtures(sf_dir)
    # Rewrite ONLY the fixture-backed oracles (the explicit pin) — a
    # blind replace over every SQL would corrupt any future non-fixture
    # oracle that legitimately contains the substring.
    pinned = fixture_oracles()
    return {
        n: sql.replace(f"_{FIXTURE_SF_BASE}", f"_{base}") if n in pinned else sql
        for n, sql in (
            (n, _ORACLES[n]) for n in _ordered_names() if n in _ORACLES
        )
    }
