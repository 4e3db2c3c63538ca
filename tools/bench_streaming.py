"""Streaming content-tier throughput (the streaming row of
BENCH/BASELINE.md): run `stream_quality_filter` over the sf0.1 corpus
twice — content_dedup off and on — with identical trigger sizing, and
report clips/s for both plus the content-tier cost factor.

The corpus is written as N_FILES parquet files so availableNow +
maxFilesPerTrigger yields a fixed number of micro-batches; state /
checkpoint / output dirs are fresh per leg (throughput of first-contact
ticks, the conservative number — a warm registry prunes better).

Usage: python tools/bench_streaming.py [--sf-dir /root/testdata/sf0.1]
       [--cores 8] [--files 16] [--per-trigger 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--per-trigger", type=int, default=4)
    ap.add_argument(
        "--replicate", type=int, default=1,
        help="replicate the corpus N times with remapped clip_ids "
        "(byte-identical copies → dup-heavy regime: exercises the "
        "rep-deduplicated fingerprint scan and the SHA registry)",
    )
    args = ap.parse_args()

    from data_quality_checker_spark.queries import _clips_path
    from data_quality_checker_spark.session import get_spark
    from data_quality_checker_spark.streaming.incremental import (
        stream_quality_filter,
    )

    spark = get_spark(
        app_name="dqc-stream-bench", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
    )
    from pyspark.sql import functions as F

    clips = spark.read.parquet(_clips_path(args.sf_dir))
    if args.replicate > 1:
        parts = [
            clips.withColumn(
                "clip_id", F.concat(F.col("clip_id"), F.lit(f"_r{i:02d}"))
            )
            for i in range(args.replicate)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        clips = df
    n = clips.count()
    root = tempfile.mkdtemp(prefix="dqc_streambench_")
    inp = os.path.join(root, "in")
    clips.repartition(args.files).write.parquet(inp)

    # untimed warmup: fork the Python workers / page-load the models once
    from data_quality_checker_spark.functions.udfs import get_udfs

    u = get_udfs()
    spark.createDataFrame([("warm",)], "transcript string").select(
        u["langid"]("transcript")
    ).write.format("noop").mode("overwrite").save()

    out = {"clips": n, "cores": args.cores, "files": args.files,
           "per_trigger": args.per_trigger}
    for tag, content in (("base", False), ("content", True)):
        leg = os.path.join(root, tag)
        t0 = time.time()
        q = stream_quality_filter(
            spark,
            inp,
            os.path.join(leg, "out"),
            os.path.join(leg, "ckpt"),
            os.path.join(leg, "state"),
            content_dedup=content,
            max_files_per_trigger=args.per_trigger,
        )
        q.awaitTermination()
        dt = time.time() - t0
        rows = spark.read.parquet(os.path.join(leg, "out")).count()
        assert rows == n, (rows, n)
        out[f"{tag}_sec"] = round(dt, 2)
        out[f"{tag}_clips_per_sec"] = round(n / dt, 1)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    out["content_cost_factor"] = round(
        out["base_clips_per_sec"] / out["content_clips_per_sec"], 2
    )
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
