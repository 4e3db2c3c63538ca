"""IQR outlier fences — exact quantiles, computed in one tiny pre-pass.

Reference: src/core/validator.py:270-294 (1.5·IQR fence, ≥5 non-null
values, IQR>0 guard) and :244-254 (3·IQR extended fence). pandas quantiles
are exact linear interpolation; Spark's SQL ``percentile`` uses the same
interpolation, so parity is exact (SURVEY.md §4.3). At 10^12 rows you
would flip the flag below to ``percentile_approx`` with a small accuracy
parameter and document the ε; the two-pass shape (bounds first, then a
fused filter in the main scan) is the scalable part and stays the same.

The pre-pass scans ONLY the numeric column (column pruning keeps it off
the heavy ``bytes`` payload), and its result is folded into the main plan
as literals — so the fence costs one lightweight job, not a second full
pass over the corpus. The batch job and the in-session pipeline pay not
even that: ``pipeline.stage_graph`` observes the same aggregates
(``iqr_aggs``) on its cache fill and applies the same guards (``fence``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig


def exact_quantiles_scalable(
    df: DataFrame,
    column: str,
    qs: list[float],
    accuracy: int = 10_000,
    max_collect: int = 200_000,
    max_rounds: int = 4,
) -> list[float] | None:
    """EXACT linear-interpolation quantiles without buffering the column
    in one aggregator — the 10¹²-row formulation of ``percentile()``.

    Spark's exact ``percentile`` aggregate materializes every value of
    the column in a single aggregation buffer: fine to ~10⁸ rows, OOM at
    corpus scale. This runs the textbook distributed exact-selection
    instead:

    1. one pass: ``n`` + ``approx_percentile`` brackets around each
       requested rank (rank error ≤ n/accuracy by the KLL/GK sketch
       contract, so the bracket [q−2/acc, q+2/acc] provably contains the
       two order statistics the interpolation needs);
    2. one pass: per bracket, count(values < lo) + collect the in-bracket
       values (≈ 4n/accuracy of them — bounded and tiny relative to n);
       if a bracket still exceeds ``max_collect`` (extreme value skew:
       many ties at the bracket edge), re-bracket WITHIN it at higher
       accuracy and repeat (≤ ``max_rounds``, each round shrinking the
       candidate set ~accuracy×);
    3. driver: exact order statistics k=floor/ceil((n−1)q) from the
       sorted in-bracket values, interpolated with the same
       ``lower + (upper−lower)·frac`` double arithmetic as
       ``percentile()`` — bit-identical results.

    Returns None when the column has no non-null values.
    """
    x = F.col(column).cast("double")
    nn = df.where(x.isNotNull()).select(x.alias("_x"))
    eps = 2.0 / accuracy
    probes = sorted({p for q in qs for p in (max(0.0, q - eps), min(1.0, q + eps))})
    row = nn.agg(
        F.count("_x").alias("n"),
        F.expr(
            f"approx_percentile(_x, array({', '.join(map(repr, probes))}), {accuracy})"
        ).alias("b"),
    ).first()
    n = row["n"]
    if not n:
        return None
    bracket = {}
    for q in qs:
        lo = row["b"][probes.index(max(0.0, q - eps))]
        hi = row["b"][probes.index(min(1.0, q + eps))]
        bracket[q] = (float(lo), float(hi))

    out: list[float] = []
    for q in qs:
        r = (n - 1) * q
        k0, k1 = int(r // 1), -int(-r // 1)  # floor, ceil
        lo, hi = bracket[q]
        below, vals = None, None
        for _ in range(max_rounds):
            agg = nn.agg(
                F.sum((F.col("_x") < F.lit(lo)).cast("bigint")).alias("below"),
                F.sum(
                    ((F.col("_x") >= F.lit(lo)) & (F.col("_x") <= F.lit(hi))).cast("bigint")
                ).alias("m"),
            ).first()
            below, m = int(agg["below"] or 0), int(agg["m"] or 0)
            # the bracket must cover both needed order statistics; if the
            # sketch bound was violated (never observed; belt-and-braces)
            # or the bracket is still fat, widen/narrow and retry
            if below > k0 or below + m <= k1:
                lo, hi = float("-inf"), float("inf")  # degenerate: full range
                continue
            if lo == hi:  # a tie mass: every in-bracket value IS the answer
                vals = [lo, lo]
                below = k0
                break
            if m <= max_collect:
                vals = sorted(
                    r["_x"]
                    for r in nn.where(
                        (F.col("_x") >= F.lit(lo)) & (F.col("_x") <= F.lit(hi))
                    ).collect()
                )
                break
            sub = nn.where((F.col("_x") >= F.lit(lo)) & (F.col("_x") <= F.lit(hi)))
            # fat bracket, few DISTINCT values (a tie-heavy column — e.g.
            # a discount with 11 legal values puts >10^5 rows between two
            # adjacent values, and no value-range narrowing can ever
            # shrink it): resolve the order statistics from bounded
            # (value, count) pairs instead of raw rows. limit() applies
            # to the COMPLETE aggregate, so a result under the cap holds
            # every group; map-side combine keeps the shuffle at
            # distinct-value cardinality.
            groups = (
                sub.groupBy("_x")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .limit(max_collect + 1)
                .collect()
            )
            if len(groups) <= max_collect:
                pairs = sorted((float(g["_x"]), int(g["cnt"])) for g in groups)
                v0 = v1 = None
                cum = below
                for val, cnt in pairs:
                    if v0 is None and k0 < cum + cnt:
                        v0 = val
                    if k1 < cum + cnt:
                        v1 = val
                        break
                    cum += cnt
                # vals[k0-below]=v0 and vals[k1-below]∈{v0,v1} under the
                # existing tail indexing once below is pinned to k0
                vals = [v0, v1]
                below = k0
                break
            # re-bracket WITHIN the fat bracket at escalated accuracy —
            # reusing the original (possibly coarse) accuracy would only
            # shrink the candidate set by a constant factor per round
            sub_acc = max(accuracy, 10_000)
            q_lo = (k0 - below) / m
            q_hi = (k1 - below) / m
            sube = 2.0 / sub_acc
            b2 = sub.agg(
                F.expr(
                    f"approx_percentile(_x, array({max(0.0, q_lo - sube)!r},"
                    f" {min(1.0, q_hi + sube)!r}), {sub_acc})"
                ).alias("b")
            ).first()["b"]
            lo, hi = float(b2[0]), float(b2[1])
        if vals is None:  # max_rounds exhausted — pathological tie mass
            raise ValueError(
                f"quantile bracket for q={q} on {column!r} did not shrink "
                f"below max_collect={max_collect} in {max_rounds} rounds"
            )
        v0 = vals[k0 - below]
        v1 = vals[k1 - below]
        # Spark Percentile.getPercentile interpolates as the convex
        # combination (not lower + delta*frac) — match it bit-for-bit
        frac = r - k0
        out.append(v0 * (1.0 - frac) + v1 * frac)
    return out


def iqr_aggs(column: str, exact: bool = True) -> tuple[Column, Column]:
    """The fence's aggregates over ``column``: its (q1, q3) quartiles and
    its non-null count. ``iqr_bounds`` runs them as a job of their own;
    ``pipeline.stage_graph`` observes them on the cache fill it runs
    anyway. Both hand the results to ``fence``."""
    pct = "percentile" if exact else "percentile_approx"
    return F.expr(f"{pct}({column}, array(0.25, 0.75))"), F.count(column)


def fence(q, n: int, mult: float, min_rows: int) -> tuple[float, float] | None:
    """(q1, q3) quartiles over ``n`` non-null values → the (lo, hi)
    fence, or None when undefined per the reference's guards
    (n < min_rows or IQR <= 0)."""
    if n < min_rows or q is None:
        return None
    q1, q3 = float(q[0]), float(q[1])
    iqr = q3 - q1
    if iqr <= 0:
        return None
    return q1 - mult * iqr, q3 + mult * iqr


def iqr_bounds(
    df: DataFrame,
    column: str,
    mult: float = DEFAULT_CONFIG.outlier_iqr_mult,
    min_rows: int = DEFAULT_CONFIG.outlier_min_rows,
    exact: bool = True,
) -> tuple[float, float] | None:
    """→ (lo, hi) fence for `column`, or None when undefined per the
    reference's guards (n < min_rows or IQR == 0)."""
    q, n = iqr_aggs(column, exact)
    row = df.select(q.alias("q"), n.alias("n")).first()
    return fence(row["q"], row["n"], mult, min_rows)
