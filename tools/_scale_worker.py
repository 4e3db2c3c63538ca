"""Subprocess worker for bench_scaling.py: run a workload on a prepared
corpus at a given parallelism, print one JSON line.

Workloads:
  full — the complete quality-filter pipeline (audio + text UDFs, salted
         dedup, rules) → decisions, materialized via the noop sink.
  text — the text-scoring stage only (langid + perplexity + scrub over
         Arrow): the payload column never crosses to Python, so this is
         the compute-bound stage a single-bus VM can measure faithfully.

Timing excludes SparkSession/JVM startup and Python-worker warmup. The
warmup MATERIALIZES the UDF outputs — under a bare count() Catalyst
prunes deterministic pandas UDFs right out of the plan and the
"benchmark" degenerates to a JVM scan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    corpus = sys.argv[1]
    cores = int(sys.argv[2])
    workload = sys.argv[3] if len(sys.argv) > 3 else "full"

    from pyspark.sql import functions as F

    from data_quality_checker_spark.functions.udfs import get_udfs
    from data_quality_checker_spark.pipeline import run_pipeline
    from data_quality_checker_spark.session import get_spark

    batch = os.environ.get("DQC_ARROW_BATCH")
    extra = {"spark.sql.files.maxPartitionBytes": "128m"}
    if batch:
        extra["spark.sql.execution.arrow.maxRecordsPerBatch"] = batch
    spark = get_spark(
        app_name=f"dqc-scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores * 2,
        # file-granular parallelism: every core gets several input splits
        extra_conf=extra,
    )
    clips = spark.read.parquet(corpus)

    u = get_udfs()
    text_scores = clips.select(
        "clip_id",
        u["langid"](F.col("transcript")).alias("langid"),
        u["perplexity"](F.col("transcript")).alias("ppl"),
        u["scrub"](F.col("transcript")).alias("scrub"),
    )

    # warm up JVM + python workers (imports, lazy model build)
    warm = clips.limit(32 * cores).repartition(cores)
    run_pipeline(spark, warm).decisions.collect()
    spark.catalog.clearCache()

    t0 = time.time()
    if workload == "text":
        text_scores.write.format("noop").mode("overwrite").save()
    else:
        # the stage graph caches the slim (clip_id, sha) frame — the only
        # full-payload sha scan runs once and every consumer reuses it
        res = run_pipeline(spark, clips)
        res.decisions.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    n = clips.count()

    print(json.dumps({"cores": cores, "workload": workload, "rows": n,
                      "seconds": round(dt, 3), "rows_per_sec": round(n / dt, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
