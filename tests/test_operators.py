"""Operator unit tests, mirroring the reference's per-check test classes
(/root/reference/tests/test_validator.py structure)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.config import DEFAULT_CONFIG
from data_quality_checker_spark.operators.dedup import flag_duplicates, keepers_by_sha, sha1_expr
from data_quality_checker_spark.operators.outliers import iqr_bounds
from data_quality_checker_spark.operators.rules import build_rules
from data_quality_checker_spark.oracle.pandas_oracle import RULES as ORACLE_RULES
from data_quality_checker_spark.oracle.pandas_oracle import scrub_text


def test_rules_registry_matches_oracle(spark):
    """The Spark rule table and the oracle rule table must agree on names,
    severities and drop semantics — parity by construction."""
    rules = build_rules(DEFAULT_CONFIG, dur_bounds=(0.0, 1.0))
    assert {r.name for r in rules} == set(ORACLE_RULES)
    for r in rules:
        sev, drops = ORACLE_RULES[r.name]
        assert (r.severity, r.drops) == (sev, drops), r.name


def test_dedup_keeps_min_clip_id(spark):
    rows = [
        ("c3", b"xxx"),
        ("c1", b"xxx"),
        ("c2", b"xxx"),
        ("c9", b"yyy"),
        ("c0", None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary").select(
        "clip_id", sha1_expr("bytes").alias("sha")
    )
    out = {
        r["clip_id"]: r["is_duplicate"]
        for r in flag_duplicates(df, keepers_by_sha(df)).collect()
    }
    assert out == {"c1": False, "c2": True, "c3": True, "c9": False, "c0": False}


def test_dedup_skewed_hot_key(spark):
    """10k copies of one payload + singletons — the salted two-phase agg
    must still keep exactly the minimum clip_id."""
    hot = [(f"h{i:05d}", "HOTSHA") for i in range(10_000)]
    cold = [(f"z{i:03d}", f"sha{i}") for i in range(50)]
    df = spark.createDataFrame(hot + cold, "clip_id string, sha string")
    out = flag_duplicates(df, keepers_by_sha(df))
    kept = out.filter(~F.col("is_duplicate")).select("clip_id").collect()
    kept_ids = {r["clip_id"] for r in kept}
    assert "h00000" in kept_ids
    assert len(kept_ids) == 51  # 1 hot keeper + 50 singletons


def test_iqr_bounds_match_pandas(spark):
    vals = [float(v) for v in [10, 12, 14, 16, 18, 20, 400]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = iqr_bounds(df, "x", mult=1.5, min_rows=5)
    s = pd.Series(vals)
    q1, q3 = s.quantile(0.25), s.quantile(0.75)
    iqr = q3 - q1
    assert got == pytest.approx((q1 - 1.5 * iqr, q3 + 1.5 * iqr))


def test_exact_quantiles_scalable_matches_percentile(spark):
    """The distributed exact-selection quantiles must equal Spark's
    single-buffer percentile() bit-for-bit across shapes: random,
    duplicate-heavy, and a forced multi-round escalation (max_collect
    smaller than the bracket)."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_quality_checker_spark.operators.outliers import exact_quantiles_scalable

    rng = np.random.default_rng(11)
    cases = [
        [float(v) for v in rng.normal(100, 20, size=5000)],
        [float(v) for v in rng.integers(0, 8, size=4000)],  # heavy ties
        [1.0],  # single value
    ]
    qs = [0.25, 0.5, 0.75, 0.9]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        expected = df.agg(
            F.expr(f"percentile(x, array({', '.join(map(str, qs))}))")
        ).first()[0]
        got = exact_quantiles_scalable(df, "x", qs)
        assert got == pytest.approx(expected, abs=0.0), (got, expected)
        # escalation path: bracket forced above max_collect
        got2 = exact_quantiles_scalable(df, "x", qs, accuracy=10, max_collect=50)
        assert got2 == pytest.approx(expected, rel=0, abs=1e-12), (got2, expected)

    # all-null column → None
    dfn = spark.createDataFrame([(None,), (None,)], "x double")
    assert exact_quantiles_scalable(dfn, "x", qs) is None


def test_iqr_bounds_guards(spark):
    # fewer than 5 non-null values → None (validator.py:273)
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    assert iqr_bounds(df, "x") is None
    # IQR == 0 → None (validator.py:278)
    df2 = spark.createDataFrame([(5.0,)] * 10, "x double")
    assert iqr_bounds(df2, "x") is None


def test_scrub_email_and_phone():
    assert scrub_text("mail bob.smith@example.com now") == "mail <EMAIL> now"
    assert scrub_text("call 555-123-4567 now") == "call <PHONE> now"
    # too few digits → left alone (validator.py:207-208 digit-count rule)
    assert scrub_text("call 12-34 now") == "call 12-34 now"
    # too many digits (>15) → left alone
    assert scrub_text("id 12345678901234567890") == "id 12345678901234567890"
    assert scrub_text("what the frak") == "what the <TOX>"


def test_enriched_plan_prunes_bytes(spark, clips_df):
    """Text-only rule subtrees must not read the heavy binary column:
    decisions minus audio columns should produce a scan without `bytes`."""
    slim = clips_df.select("clip_id", "transcript").filter(
        F.length("transcript") < DEFAULT_CONFIG.min_transcript_chars
    )
    plan = slim._jdf.queryExecution().executedPlan().toString()
    assert "bytes" not in plan


# --------------------------------------------------------------------------
# ML advisor (operators/advisor.py)
# --------------------------------------------------------------------------

def test_advisor_skips_single_class_columns(spark):
    """A cardinality-1 categorical column has share=100% but is NOT
    imbalanced (ml_advisor.py _check_data_balance requires
    len(value_counts) > 1) — no class_imbalance row may fire for it."""
    from data_quality_checker_spark.operators.advisor import ml_recommendations

    df = spark.createDataFrame(
        [("only", "a"), ("only", "a"), ("only", "b"), ("only", "b"),
         ("only", "b"), ("only", "b"), ("only", "b"), ("only", "b"),
         ("only", "b"), ("only", "b")],
        "mono string, skewed string",
    )
    rows = ml_recommendations(spark, df, [], ["mono", "skewed"], []).collect()
    imb = {r["column"]: r["strategy"] for r in rows if r["category"] == "class_imbalance"}
    assert "mono" not in imb           # single-class: suppressed
    assert imb.get("skewed") == "moderate_class_weights"  # 80% share


def test_advisor_topshare_is_one_job(spark, count_jobs):
    """Top-class share must be ONE stacked job for all categorical
    columns, not a serial groupBy().first() scan per column: total jobs
    to build the advisor frame stay constant as columns grow."""
    from data_quality_checker_spark.operators.advisor import ml_recommendations

    def jobs_for(n_cols: int) -> int:
        cats = [f"c{i}" for i in range(n_cols)]
        data = [
            tuple(f"v{j % (i + 2)}" for i in range(n_cols)) for j in range(40)
        ]
        df = spark.createDataFrame(data, ", ".join(f"{c} string" for c in cats))
        return count_jobs(lambda: ml_recommendations(spark, df, [], cats, []))

    # AQE stages make the absolute count plan-shaped, so assert the
    # invariant that matters: the job count is CONSTANT in column count
    # (a per-column scan loop grows it linearly)
    assert jobs_for(2) == jobs_for(6)


def test_exact_quantiles_tie_straddle_bracket(spark):
    """The sf1 l_discount shape: a column with a handful of legal values
    whose tie runs dwarf max_collect, and a target rank near a run
    boundary so the bracket keeps spanning TWO values — value-range
    narrowing can never shrink it, and pre-fix the selection raised
    after max_rounds. The (value, count) resolution must return
    percentile()'s answer bit-for-bit."""
    from pyspark.sql import functions as F

    from data_quality_checker_spark.operators.outliers import exact_quantiles_scalable

    # 11 legal values 0.00..0.10; first/last runs halved (the TPC-H-ish
    # discount shape). n=6000 puts k0=1499/k1=1500 EXACTLY astride the
    # 0.02|0.03 run boundary, so every sketch bracket spans two tie runs
    # (q_lo→0.4992, q_hi→0.5 inside the bracket — the sub-sketch can
    # never converge to lo==hi) and the interpolation needs v0≠v1
    vals = []
    for i in range(11):
        cnt = 300 if i in (0, 10) else 600
        vals += [round(i * 0.01, 2)] * cnt
    assert len(vals) == 6000  # k0=1499/k1=1500 astride the 0.02|0.03 edge
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    qs = [0.25, 0.5, 0.75]
    expected = df.agg(
        F.expr(f"percentile(x, array({', '.join(map(str, qs))}))")
    ).first()[0]
    got = exact_quantiles_scalable(df, "x", qs, max_collect=50)
    assert got == pytest.approx(expected, rel=0, abs=0.0), (got, expected)


def test_summary_stats_scalable_equals_legacy(spark):
    """summary_stats' default scalable path (cheap moments + bracketed
    exact quantiles) must reproduce the single-buffer percentile path
    exactly, including all-null and constant columns."""
    import pandas as pd

    from data_quality_checker_spark.operators.metrics import summary_stats

    pdf = pd.DataFrame(
        {
            "a": [float(v) for v in range(100)],
            "b": [0.5] * 100,
            "c": [None] * 100,
        }
    )
    df = spark.createDataFrame(pdf.astype({"c": "float64"}))
    new = summary_stats(df, ["a", "b", "c"]).orderBy("column").toPandas()
    old = summary_stats(df, ["a", "b", "c"], scalable=False).orderBy("column").toPandas()
    pd.testing.assert_frame_equal(new[sorted(new.columns)], old[sorted(old.columns)])
