"""Repo-wide physical-plan audit: every registry query's plan is built
(NOT executed) and scanned for scale-killers.

Red flags:
* ``CartesianProduct``  — an unconditioned join slipped in; at corpus
  scale this is O(n²) with no partitioning. Never allowed.
* ``BroadcastNestedLoopJoin`` — allowed ONLY where it is the intended
  design: the exact brute-force ANN baseline (broadcast-Q crossJoin is
  the point) and the blocked GEMM's block-pair replication join (136-row
  broadcast side, OR-predicate by construction). Anywhere else it means
  an equi-join degenerated into an every-pair scan (the round-1 ANN-LSH
  bug this suite now guards against).

The clips_* queries are excluded: constructing them runs the pipeline
(eager persist of the sha frame), which is exercised by its own tests —
this audit stays plan-only so it runs in seconds.
"""

from __future__ import annotations

import os

import pytest

from data_quality_checker_spark import queries as registry

SF_DIR = "/root/testdata/sf0.001"

# queries whose construction executes work (pipeline persist, k-means
# fit, fixture generation) — audited by their own dedicated tests
_EXECUTES_ON_BUILD = {
    "clips_decisions_labels",
    "clips_findings_summary",
    "minhash_verified_pairs",  # eager candidate persist
    "ml_recommendations",      # driver-side aggregate collect + assembly
}

# intended nested-loop designs (see module docstring), plus queries whose
# only NLJ is the scalar-subquery shape: a crossJoin against the broadcast
# of a ONE-ROW aggregate (IQR fence, grand total, last_day, branch
# counts). A 1-row broadcast side makes the "nested loop" a single pass
# over the big side — the correct plan for attaching a global scalar.
_NLJ_ALLOWED = {
    "ann_topk",
    "embed_neardup",
    "documents_profile",   # broadcast dominant-class row
    "trend_daily",         # broadcast last_day row
    "set_ops_users",       # broadcast per-branch count rows
}


@pytest.mark.parametrize(
    "name", [n for n in registry.queries() if n not in _EXECUTES_ON_BUILD]
)
def test_no_scale_killer_joins(spark, name):
    fn = registry.queries()[name]
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}:\n{plan[:1500]}"
    if name not in _NLJ_ALLOWED:
        # shape-based allowance: the auto hub-cap's 1-row broadcast
        # scalar join (condition references _cap#) is linear — the same
        # one-row-build-side scalar shape as the _NLJ_ALLOWED names
        import re

        for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
            assert "_cap#" in m.group(0), f"{name}:\n{m.group(0)}"


@pytest.mark.parametrize("price", ["empty", "all_null"])
def test_orders_profile_degenerate_column_matches_oracle(spark, tmp_path, price):
    """An orders table with no rows, or with a price column of only
    nulls, has no quartiles: orders_profile must return the oracle's one
    row (null fence, zero outliers, null moments), not raise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    duckdb = pytest.importorskip("duckdb")
    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    if price == "empty":
        orders = orders.slice(0, 0)
    else:
        i = orders.schema.get_field_index("o_totalprice")
        orders = orders.set_column(
            i, "o_totalprice", pa.nulls(len(orders), pa.float64())
        )
    sf = tmp_path / "sf_degenerate"
    sf.mkdir()
    pq.write_table(orders, str(sf / "orders.parquet"))

    got = registry.queries()["orders_profile"](spark, str(sf)).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    res = con.execute(registry._ORACLES["orders_profile"])
    want = [dict(zip([d[0] for d in res.description], r)) for r in res.fetchall()]
    assert [r.asDict() for r in got] == want


@pytest.mark.parametrize(
    "name",
    ["dedup_exact_docs", "minhash_lsh_pairs", "minhash_verified_pairs", "neardup_clusters"],
)
def test_text_row_matches_oracle(spark, name):
    """Each text dedup registry row returns its DuckDB oracle's rows at
    the correctness sf: same columns, same row count, and the same value
    multiset under the correctness gate's normalization."""
    duckdb = pytest.importorskip("duckdb")
    from tools.check_correctness import rows_multiset

    sf_dir = os.path.join(os.path.dirname(SF_DIR), registry.FIXTURE_SF_BASE)
    sdf = registry.queries()[name](spark, sf_dir)
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    res = con.execute(registry._ORACLES[name])
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    assert sorted(sdf.columns) == sorted(cols), name
    assert len(got) == len(want), name
    assert rows_multiset(sdf.columns, got) == rows_multiset(cols, want), name
