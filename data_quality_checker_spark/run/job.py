"""Checkpointed batch job — the ``spark-submit --py-files`` entry point
with per-partition lineage and idempotent resume.

Reference analog: the CheckSession / Issue persistence subsystem
(/root/reference/src/db/models.py:22-52, src/core/generate_sample_report.py:19-86)
reshaped into the distributed unit of work: a **lineage bucket**
(``pmod(xxhash64(clip_id), n_lineage_buckets)``).

Resume protocol (exactly-once per bucket):

1. read lineage table → set of completed buckets for this run_id;
2. anti-filter the input to the remaining buckets only;
3. build the stage graph (pipeline.stage_graph) over the full input,
   scoped to the remainder; its cache fill also observes the input's IQR
   fence and, on resume, the remainder's row count; write decisions
   partitioned by ``bucket``, one file per bucket, with **dynamic
   partition overwrite** — a re-run of a half-written bucket atomically
   replaces its partition — while an ``Observation`` on that write counts each bucket's rows in
   and rows kept; then findings from this run's decisions, the same way;
4. append lineage rows LAST, one per bucket actually completed, with the
   counts the decisions write observed, as ONE file per run (the commit
   point — a crash before this step leaves the bucket uncommitted and
   step 2 of the next run redoes it).

On a real deployment the decisions/findings/lineage tables are Iceberg
(``PARTITIONED BY (bucket(N, clip_id), codec)``, commits are snapshots,
lineage append is a MERGE); this sandbox has no Iceberg runtime on the
classpath, so the same protocol is implemented on parquet tables +
dynamic partition overwrite, which preserves the idempotency argument.

Output layout under ``--output``:
  decisions/bucket=K/*.parquet
  findings/bucket=K/*.parquet
  lineage/*.parquet           (append-only, one file per run; run_id column)
  runs/run_id=R/config.json   (serialized PipelineConfig — rule lineage)
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..pipeline import findings_from_decisions, stage_graph
from ..schema import DECISIONS_SCHEMA, LINEAGE_SCHEMA

# the decisions table as read back: the run_id/bucket partition columns
# are declared, so the read infers nothing from parquet footers
DECISIONS_TABLE_SCHEMA = T.StructType(
    DECISIONS_SCHEMA.fields
    + [T.StructField("run_id", T.StringType()), T.StructField("bucket", T.IntegerType())]
)


def bucket_expr(cfg: PipelineConfig):
    return F.pmod(F.xxhash64(F.col("clip_id")), F.lit(cfg.n_lineage_buckets)).cast("int")


def _bucket_counts(cfg: PipelineConfig, cond: str) -> Column:
    """An array of per-bucket counts of the rows where ``cond`` holds, one
    aggregate written as SQL text: a Column per bucket costs ~10 py4j
    round trips, about a second at 64 buckets."""
    sums = ", ".join(f"count_if(bucket = {b}{cond})" for b in range(cfg.n_lineage_buckets))
    return F.expr(f"array({sums})")


def completed_buckets(spark: SparkSession, output: str, run_id: str) -> set[int]:
    """Buckets this run_id has committed. A fresh output has no lineage
    table yet — probed with os.path.exists, as incremental.StateTable.read
    does, because a parquet read of a missing path logs a WARN
    FileNotFoundException stack. Any other read failure (an unreadable
    lineage part file) propagates: treating it as "nothing committed"
    would silently redo every bucket on every run."""
    path = os.path.join(output, "lineage")
    if not os.path.exists(path):
        return set()
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    rows = (
        lineage.where(F.col("run_id") == run_id).select("bucket").distinct().collect()
    )
    return {r["bucket"] for r in rows}


def run_job(
    spark: SparkSession,
    input_path: str,
    output: str,
    run_id: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict:
    """Run (or resume) the quality-filter job. Returns a stats dict."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    clips = spark.read.parquet(input_path)

    done = completed_buckets(spark, output, run_id)
    scope, observe = None, ()
    if done:
        scope = ~bucket_expr(cfg).isin(*sorted(done))
        observe = (F.count_if(scope).alias("todo"),)

    # Global calibration is whole-dataset state, computed over the FULL
    # input, not the remainder — resume must not change rule thresholds
    # (validator.py:270-294 semantics are whole-dataset): the IQR fence
    # (observed on the graph's cache fill), the dedup keepers inside
    # stage_graph (a duplicate in a remaining bucket must still lose to a
    # keeper in a completed one).
    graph = stage_graph(clips, cfg, scope=scope, observe=observe, input_fence=True)
    decisions_dir = os.path.join(output, "decisions")
    written = Observation()
    try:
        n_todo = graph.observed["todo"] if done else graph.n_rows
        if n_todo == 0:
            return {"run_id": run_id, "buckets_done": len(done), "rows_processed": 0}
        # bucket is a pure function of clip_id — recomputed in each
        # projection, never joined; partitioned
        # (run_id, bucket): dynamic overwrite only ever touches THIS
        # run's incomplete buckets, and findings stay attributable per
        # run for the history/compare analytics. The repartition by bucket
        # writes one file per bucket, whatever the partitioning of the
        # cache. The lineage counts are observed directly above the
        # write, in its result stage, where Spark merges each task's
        # metrics once however often it is retried.
        graph.decisions.withColumn("run_id", F.lit(run_id)).withColumn(
            "bucket", bucket_expr(cfg)
        ).repartition("bucket").observe(
            written,
            _bucket_counts(cfg, "").alias("rows_in"),
            _bucket_counts(cfg, " AND keep").alias("rows_kept"),
        ).write.mode("overwrite").partitionBy("run_id", "bucket").parquet(decisions_dir)
    finally:
        graph.cache.unpersist()

    # the partition directory name escapes run_id as the write did (a
    # timestamp's ':' becomes %3A)
    catalog_utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    fresh = (
        spark.read.schema(DECISIONS_TABLE_SCHEMA)
        .option("basePath", decisions_dir)
        .parquet(os.path.join(decisions_dir, f"run_id={catalog_utils.escapePathName(run_id)}"))
    )
    if done:
        fresh = fresh.where(~F.col("bucket").isin(*sorted(done)))
    findings = (
        findings_from_decisions(fresh.drop("bucket", "run_id"), cfg)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("bucket", bucket_expr(cfg))
    )
    findings.write.mode("overwrite").partitionBy("run_id", "bucket").parquet(
        os.path.join(output, "findings")
    )

    # commit point: lineage rows for buckets completed THIS run (appended
    # last — a crash anywhere above leaves those buckets uncommitted and
    # the next run's anti-filter redoes exactly them), written from the
    # observed counts by a one-row, one-task frame that never leaves the
    # JVM: one file per run
    seen = written.get
    rows = ", ".join(
        f"struct({b} AS bucket, {n_in}L AS rows_in, {kept}L AS rows_kept, "
        f"{n_in - kept}L AS rows_dropped)"
        for b, (n_in, kept) in enumerate(zip(seen["rows_in"], seen["rows_kept"]))
        if n_in
    )
    spark.range(1, numPartitions=1).select(
        F.lit(run_id).alias("run_id"),
        F.expr(f"inline(array({rows}))"),
        F.current_timestamp().alias("completed_at"),
    ).write.mode("append").parquet(os.path.join(output, "lineage"))

    run_dir = os.path.join(output, "runs", f"run_id={run_id}")
    os.makedirs(run_dir, exist_ok=True)
    with open(os.path.join(run_dir, "config.json"), "w") as f:
        json.dump({"config": cfg.to_dict(), "input": input_path, "ts": time.time()}, f)

    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "rows_processed": n_todo,
        "dur_bounds": graph.dur_bounds,
    }


def summary_view(spark: SparkSession, output: str) -> DataFrame:
    """The reference's check_summary VIEW (dev_create_check_summary_view.py:12-25):
    lineage LEFT JOIN findings, per-run totals with conditional severity sums."""
    lineage = spark.read.parquet(os.path.join(output, "lineage"))
    findings = spark.read.parquet(os.path.join(output, "findings"))
    per_bucket = findings.groupBy("run_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_findings"),
        F.sum((F.col("severity") == "high").cast("long")).alias("n_high"),
        F.sum((F.col("severity") == "medium").cast("long")).alias("n_medium"),
        F.sum((F.col("severity") == "low").cast("long")).alias("n_low"),
    )
    return (
        lineage.join(per_bucket, ["run_id", "bucket"], "left")
        .groupBy("run_id")
        .agg(
            F.sum("rows_in").alias("rows_in"),
            F.sum("rows_kept").alias("rows_kept"),
            F.sum("rows_dropped").alias("rows_dropped"),
            F.sum(F.coalesce("n_findings", F.lit(0))).alias("n_findings"),
            F.sum(F.coalesce("n_high", F.lit(0))).alias("n_high"),
            F.sum(F.coalesce("n_medium", F.lit(0))).alias("n_medium"),
            F.sum(F.coalesce("n_low", F.lit(0))).alias("n_low"),
            F.max("completed_at").alias("completed_at"),
        )
    )


def main(argv=None):
    p = argparse.ArgumentParser(description="quality-filter batch job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--rules",
        help="JSON validation-rule config (per-rule enabled flag + parameter "
        "overrides, see config.load_rule_config); recorded in the run's "
        "config.json lineage",
    )
    args = p.parse_args(argv)

    from ..config import load_rule_config
    from ..session import get_spark

    cfg = load_rule_config(args.rules) if args.rules else DEFAULT_CONFIG
    spark = get_spark(app_name=f"dqc-job-{args.run_id}")
    stats = run_job(spark, args.input, args.output, args.run_id, cfg)
    print(json.dumps(stats, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
