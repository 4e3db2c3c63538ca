"""Config-delta re-score — new keep/drop decisions from persisted
per-clip metrics, without touching audio bytes or re-running any UDF.

The expensive half of the pipeline is enrichment (the stage graph's
payload pass): the sha1, the text-model UDFs and the audio decode over
every payload. The cheap half is ``decide()`` — pure
whole-stage-codegen rule predicates over the slim enriched columns.
Rule-config iteration (tighten perplexity_max, flip a rule off, change
the sr whitelist — the reference's configurable validation rules,
src/core/config.py:21-71) only changes the cheap half, yet a naive
re-run pays the expensive half again: at 10^12 clips that is re-decoding
an exabyte-scale payload column to move one threshold.

This module splits them at a storage boundary:

  * ``write_metrics``: persist the enriched frame of the stage graph
    (pipeline.stage_graph) once per corpus version. It is slim (no
    bytes — a few hundred bytes/row of scores, structs and transcript),
    partitioned by the SAME lineage-bucket
    expression as run/job.py so a later re-score prunes like the job;
  * ``rescore_decisions``: ``decide()`` over the loaded metrics under a
    NEW config. Dedup keepers are re-derived from the metrics table's
    own (clip_id, sha) columns — a slim aggregate, no payload scan; the
    IQR duration fence is recomputed over the metrics table's dur_ms
    (whole-dataset semantics preserved).

Guarantee (tested, exact): rescore(metrics(clips, cfg1), cfg2) ==
run_pipeline(clips, cfg2).decisions, for any cfg2 that changes RULES —
thresholds, whitelists, enabled flags, dedup salting. Out of scope by
design: changes to the SCORERS themselves (langid/perplexity models,
scrub regexes, audio-stats spec) are enrichment changes and need a new
metrics version — the metrics table embeds ``cfg.scrub`` etc. at write
time exactly like a feature store embeds its feature version.

The re-score plan is plan-audited in tests: zero ArrowEvalPython /
BatchEvalPython nodes, and the clips payload column is never read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.outliers import iqr_bounds
from ..pipeline import decide, stage_graph
from .job import bucket_expr


def write_metrics(
    spark: SparkSession,
    clips: DataFrame,
    path: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> None:
    """One enrichment pass → metrics parquet at ``path``, partitioned by
    the run/job.py lineage-bucket expression (pure function of clip_id,
    so re-scores and point lookups prune identically to the job), one
    file per bucket."""
    graph = stage_graph(clips, cfg)
    try:
        graph.enriched.withColumn("bucket", bucket_expr(cfg)).repartition(
            "bucket"
        ).write.mode("overwrite").partitionBy("bucket").parquet(path)
    finally:
        graph.cache.unpersist()


def rescore_decisions(
    metrics: DataFrame,
    cfg: PipelineConfig,
    dur_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """→ decisions frame under ``cfg``, computed ONLY from the metrics
    table. Exactly ``pipeline.decide`` semantics: keepers from a slim
    (clip_id, sha) aggregate, IQR fence over the full metrics table when
    not supplied, every rule predicate JVM-side."""
    m = metrics.drop("bucket")
    if dur_bounds is None:
        dur_bounds = iqr_bounds(
            m, "dur_ms", cfg.outlier_iqr_mult, cfg.outlier_min_rows
        )
    return decide(m, cfg, dur_bounds, hashed=m.select("clip_id", "sha"))


def main(argv=None):
    """spark-submit entry: re-score persisted metrics under a rule config.

    Either --clips (build the metrics table first, one enrichment pass)
    or --metrics (reuse an existing one), then decisions under --rules
    are written to --output/decisions.
    """
    import argparse
    import json

    p = argparse.ArgumentParser(description="config-delta re-score")
    p.add_argument("--metrics", help="existing metrics parquet path")
    p.add_argument("--clips", help="clips parquet to build metrics from")
    p.add_argument("--output", required=True)
    p.add_argument("--rules", help="JSON rule config (config.load_rule_config)")
    args = p.parse_args(argv)
    if not args.metrics and not args.clips:
        p.error("one of --metrics / --clips is required")

    import os

    from ..config import load_rule_config
    from ..session import get_spark

    cfg = load_rule_config(args.rules) if args.rules else DEFAULT_CONFIG
    spark = get_spark(app_name="dqc-rescore")
    metrics_path = args.metrics
    if metrics_path is None:
        metrics_path = os.path.join(args.output, "metrics")
        write_metrics(spark, spark.read.parquet(args.clips), metrics_path, cfg)
    decisions = rescore_decisions(spark.read.parquet(metrics_path), cfg)
    decisions.write.mode("overwrite").parquet(os.path.join(args.output, "decisions"))
    n = spark.read.parquet(os.path.join(args.output, "decisions")).count()
    print(json.dumps({"metrics": metrics_path, "decisions_rows": n}))
    spark.stop()


if __name__ == "__main__":
    main()
