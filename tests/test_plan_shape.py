"""Physical-plan shape guards — the properties that keep the pipeline
scalable are asserted here so regressions show up as test failures, not
as silent 2× slowdowns at 100 TB.

Found-the-hard-way catalog:
* deterministic pandas UDFs get PRUNED under a bare count() — so a
  "benchmark" that counts measures nothing (the bench_scaling.py legs
  and bench.py's timed queries write to the noop sink instead);
* an unpersisted enriched frame consumed by two branches runs the whole
  Arrow UDF pass twice;
* a not-yet-materialized cache consumed by two branches in one action
  races both branches into computing it concurrently;
* a caller that assembles its own stages drifts from the stage graph:
  the batch job once read the payload four times and broadcast one
  representative row per clip without a size gate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_quality_checker_spark import pipeline
from data_quality_checker_spark.run import job
from data_quality_checker_spark.streaming import incremental


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _nodes(plan) -> list:
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _payload_reads(plan) -> int:
    """Scan leaves whose schema holds the payload, plus one fill per
    distinct cached relation that reads it (an InMemoryRelation repeats
    its cached scan's text, so the plan string would double-count)."""
    reads, fills = 0, {}
    for leaf in _nodes(plan):
        if leaf.children().size():
            continue
        if leaf.nodeName() == "InMemoryTableScan":
            inner = leaf.relation().cachedPlan()
            fills[inner.toString()] = _payload_reads(inner)
        elif "bytes:binary" in leaf.schema().simpleString():
            reads += 1
    return reads + sum(fills.values())


class _Built(Exception):
    """Stops a caller once its stage graph has been measured."""


def _caller_graph_shape(spark, monkeypatch, caller: str, clips_path: str, work: str) -> dict:
    """Run ``caller`` up to its stage_graph call and measure the AQE
    input plan of the decisions it built."""
    shape: dict = {}
    clips = spark.read.parquet(clips_path)
    first = F.pmod(F.xxhash64("clip_id"), F.lit(2)) == 0
    tick = caller in ("tick", "content_tick")
    if tick:
        # a registry to read: the spied tick is the stream's second
        state = os.path.join(work, "state")
        incremental.process_and_write(
            spark, clips.where(first), 0, state, os.path.join(work, "warm")
        )
    module = incremental if tick else {"pipeline": pipeline, "job": job}[caller]
    real = module.stage_graph

    def spy(*args, **kwargs):
        graph = real(*args, **kwargs)
        plan = graph.decisions._jdf.queryExecution().executedPlan().inputPlan()
        nodes = _nodes(plan)
        shape["arrow"] = sum(n.nodeName() == "ArrowEvalPython" for n in nodes)
        shape["payload_reads"] = _payload_reads(plan)
        shape["reps_broadcast"] = any(
            n.nodeName() == "BroadcastHashJoin" and "LeftSemi" in n.simpleString(50)
            for n in nodes
        )
        graph.hashed.unpersist()
        raise _Built

    monkeypatch.setattr(module, "stage_graph", spy)
    try:
        if caller == "pipeline":
            pipeline.run_pipeline(spark, clips)
        elif caller == "job":
            job.run_job(spark, clips_path, os.path.join(work, "job"), "plan")
        else:
            incremental.process_and_write(
                spark,
                clips.where(~first),
                1,
                state,
                os.path.join(work, "out"),
                content_dedup=caller == "content_tick",
            )
    except _Built:
        pass
    monkeypatch.setattr(module, "stage_graph", real)
    return shape


def test_decisions_plan_has_two_udf_passes(spark, clips_df, tmp_path, monkeypatch):
    """Every caller of the stage graph — the in-session pipeline, the
    batch job, the default streaming tick and the content-dedup tick
    (whose one decode pass also emits the fingerprints) — decides from a
    plan with exactly TWO ArrowEvalPython nodes (the per-clip text pass
    and the per-distinct-payload audio pass) and at most TWO payload
    reads (the cached sha pass and the representative decode). The reps
    broadcast is size-gated on every path: with REPS_BROADCAST_MAX at 0
    the representative semi join is not broadcast."""
    # other tests may have left persisted frames; the cache manager would
    # substitute InMemoryRelation into matching subtrees and change the
    # node count
    spark.catalog.clearCache()
    clips_path = clips_df.inputFiles()[0]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for caller in ("pipeline", "job", "tick", "content_tick"):
            shape = _caller_graph_shape(
                spark, monkeypatch, caller, clips_path, str(tmp_path / caller)
            )
            assert shape["arrow"] == 2, (caller, shape)
            assert shape["payload_reads"] <= 2, (caller, shape)
            assert shape["reps_broadcast"], (caller, shape)

            # the size gate alone decides: no size-based broadcast either
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            with monkeypatch.context() as m:
                m.setattr(pipeline, "REPS_BROADCAST_MAX", 0)
                gated = _caller_graph_shape(
                    spark, m, caller, clips_path, str(tmp_path / f"{caller}_gated")
                )
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            assert not gated["reps_broadcast"], (caller, gated)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_text_rules_prune_bytes_from_scan(spark, clips_df):
    """Rule subtrees that don't touch audio must never read the payload
    column (SURVEY §4.2: pruning keeps every other rule scan light)."""
    slim = clips_df.select(
        "clip_id",
        (F.length("transcript") < 5).alias("too_short"),
        F.col("dur_ms").isNull().alias("no_dur"),
    )
    plan = _executed_plan(slim)
    assert "bytes" not in plan


def test_keeper_branch_scans_two_columns_only(spark, clips_df):
    """The dedup keeper aggregation reads exactly (clip_id, bytes)."""
    from data_quality_checker_spark.operators.dedup import keepers_by_sha, sha1_expr

    keepers = keepers_by_sha(
        clips_df.select("clip_id", sha1_expr("bytes").alias("sha"))
    )
    plan = _executed_plan(keepers)
    assert "transcript" not in plan
    assert "ReadSchema" in plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(
        set(s.split(",")) <= {"clip_id:string", "bytes:binary"} for s in schemas
    ), schemas


def test_udfs_not_marked_nondeterministic(spark):
    """SURVEY §4.2: UDFs stay deterministic so Catalyst can collapse and
    reuse them (the pruning behavior the bench guards against is the
    flip side of the same property — both are intended)."""
    from data_quality_checker_spark.functions.udfs import get_udfs

    for name, udf in get_udfs().items():
        assert udf.deterministic, name


def test_fingerprints_plan_partial_aggregates(spark):
    """The 1-min-sketch is shingle explode → codegen md5 → groupBy(doc_id)
    min with a MAP-SIDE partial aggregate, so the doc_id shuffle carries
    one 16-byte row per doc per task — not the exploded shingles. (The
    former zero-shuffle array_min(transform(...)) formulation was
    retired by the sf10 sweep: the interpreted HOF cost the same per
    shingle and could not be respread-parallelized; see
    operators/text.fingerprints.)"""
    from data_quality_checker_spark.operators.text import fingerprints

    docs = spark.createDataFrame(
        [(1, "some document text long enough to shingle")],
        "doc_id bigint, text string",
    )
    plan = _executed_plan(fingerprints(docs.coalesce(1)))
    # partial min BEFORE the hashpartitioning exchange (map-side combine)
    assert "partial_min" in plan, plan[:1200]
    assert "hashpartitioning(doc_id" in plan, plan[:1200]
    # exactly one round-robin respread for the degenerate small scan +
    # one aggregation shuffle — the explode fan-out itself never shuffles
    assert plan.count("Exchange") <= 2, plan[:1200]
    # md5/conv runs inside whole-stage codegen, not an interpreted HOF
    assert "transform(" not in plan, plan[:1200]
