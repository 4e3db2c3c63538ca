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
  representative row per clip without a size gate;
* each Python-UDF stage costs a fixed worker start per task, so the
  stage graph runs its text and decode UDFs in one Arrow stage.
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
    """Every node of a physical plan, descending into the input plan of
    each adaptive plan and, once, into the cached plan of each distinct
    cached relation it scans: an InMemoryTableScan hides its children,
    and an InMemoryRelation repeats its cached plan's text, so a second
    scan of one cache adds nothing."""
    out, cached, stack = [], set(), [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
        elif node.nodeName() == "InMemoryTableScan":
            inner = node.relation().cachedPlan()
            if inner.toString() not in cached:
                cached.add(inner.toString())
                stack.append(inner)
    return out


def _payload_reads(nodes) -> int:
    """Scan leaves whose schema holds the payload."""
    return sum(
        not n.children().size() and "bytes:binary" in n.schema().simpleString() for n in nodes
    )


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
        nodes = _nodes(graph.decisions._jdf.queryExecution().executedPlan())
        shape["arrow"] = sum(n.nodeName() == "ArrowEvalPython" for n in nodes)
        shape["payload_reads"] = _payload_reads(nodes)
        graph.cache.unpersist()
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


def test_decisions_plan_has_one_udf_pass(spark, clips_df, tmp_path, monkeypatch):
    """Every caller of the stage graph — the in-session pipeline, the
    batch job, the default streaming tick and the content-dedup tick
    (whose decode also emits the fingerprints) — decides from a plan with
    exactly ONE ArrowEvalPython node (the text and decode UDFs of the
    cache fill) and ONE payload read (that fill's scan), counted through
    the cached fill's own plan."""
    # other tests may have left persisted frames; the cache manager would
    # substitute InMemoryRelation into matching subtrees and change the
    # node count
    spark.catalog.clearCache()
    clips_path = clips_df.inputFiles()[0]
    for caller in ("pipeline", "job", "tick", "content_tick"):
        shape = _caller_graph_shape(
            spark, monkeypatch, caller, clips_path, str(tmp_path / caller)
        )
        assert shape == {"arrow": 1, "payload_reads": 1}, (caller, shape)


def test_reps_broadcast_is_size_gated(spark, clips_df, monkeypatch):
    """``audio_stats_table`` broadcasts its representatives only under
    ``REPS_BROADCAST_MAX``: at the default the semi join is broadcast,
    with the bound at 0 (and no size-based broadcast) it is not."""
    hashed = pipeline.hashed_frame(clips_df).persist()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        def broadcast() -> bool:
            stats = pipeline.audio_stats_table(clips_df, hashed=hashed)
            return any(
                n.nodeName() == "BroadcastHashJoin" and "LeftSemi" in n.simpleString(50)
                for n in _nodes(stats._jdf.queryExecution().executedPlan())
            )

        assert broadcast()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        monkeypatch.setattr(pipeline, "REPS_BROADCAST_MAX", 0)
        assert not broadcast()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        hashed.unpersist()


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


def test_shingles_respreads_once(spark, count_jobs):
    """A frame that ``spread_small_scan`` already respread is not
    respread again by a composed operator: ``shingles`` over it plans
    exactly one round-robin exchange. Building either runs no Spark job
    (asking an adaptive plan with an exchange for its partition count
    runs that exchange's shuffle stage), also over a shuffled semi join
    — the verifier's candidate-doc frame in simdedup."""
    from data_quality_checker_spark.operators.text import shingles, spread_small_scan

    docs = spark.createDataFrame(
        [(i, f"document {i} with text long enough to shingle") for i in range(40)],
        "doc_id bigint, text string",
    ).coalesce(1)
    ids = spark.createDataFrame([(i,) for i in range(0, 40, 3)], "doc_id bigint")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, df in (
            ("scan", docs),
            ("semi_join", docs.join(ids, "doc_id", "left_semi")),
        ):
            built = []
            assert count_jobs(lambda: built.append(spread_small_scan(df))) == 0, name
            assert count_jobs(lambda: built.append(shingles(built[0]))) == 0, name
            plan = _executed_plan(built[1])
            assert plan.count("RoundRobinPartitioning") == 1, (name, plan)
    finally:
        spark.conf.set(key, prev)
