"""Single-cold-pass bench sweep for scale sweeps past sf1.

``bench.py`` is the driver contract (cold + 2 warm passes + ANN-recall
regimes + streaming registry metrics); at sf10 (100x the contract scale)
those extra sections would multiply a ~1 h cold pass for no additional
scaling signal. This tool runs ONLY the cold pass over the same
``BENCH_QUERIES`` list with the same measurement discipline (noop sink
so every column materializes, clearCache + driver GC between queries,
untimed fps-table ingest build, host calibration stamps) and writes the
same detail-JSON shape, so per-query rows are directly comparable with
``BENCH/detail_r05*.json`` cold columns.

Usage: python tools/bench_cold.py <sf_dir> <out.json> [--skip q1,q2]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (repo-root bench.py: query list + calibration)


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    skip: set[str] = set()
    if "--skip" in sys.argv:
        skip = set(sys.argv[sys.argv.index("--skip") + 1].split(","))

    base = os.path.basename(os.path.normpath(sf_dir))
    sf = float(base[2:]) if base.startswith("sf") else float("nan")

    from data_quality_checker_spark import queries as registry
    from data_quality_checker_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="dqc-bench-cold")

    t0 = time.time()
    spark.range(0, 1_000_000, 1, cpus).selectExpr("sum(id)").collect()
    from data_quality_checker_spark.functions.udfs import get_udfs

    u = get_udfs()
    warmdf = spark.createDataFrame(
        [("warm up the workers and models",)] * 64, "transcript string"
    ).repartition(cpus)
    warmdf.select(u["langid"]("transcript"), u["perplexity"]("transcript")).write.format(
        "noop"
    ).mode("overwrite").save()
    session_warmup = round(time.time() - t0, 3)

    calib_1t, calib_mt = bench._cpu_calibration(spark, cpus)

    t0 = time.time()
    registry._fps_table(spark, sf_dir)
    fps_build = round(time.time() - t0, 3)

    qs = registry.queries()
    timings: dict[str, float] = {}
    extras: dict = {
        "metric": "total headline query wall-seconds (cold pass only)",
        "sf": sf,
        "unit": "sec",
        "session_warmup_sec": session_warmup,
        "cpu_calib_1t_sec": calib_1t,
        "cpu_calib_mt_sec": calib_mt,
        "fps_table_build_sec": fps_build,
        "skipped": sorted(skip),
    }
    total = 0.0
    for name in bench.BENCH_QUERIES:
        if name in skip:
            continue
        dt, n = bench.timed_query(spark, qs[name], sf_dir)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        timings[name] = round(dt, 3)
        total += dt
        if name == "clips_decisions_labels":
            extras["clips"] = n
            extras["clips_per_sec"] = round(n / dt, 1)
        print(f"# {name}: {dt:.2f}s ({n} rows)", file=sys.stderr)

    extras["value"] = round(total, 3)
    extras["queries"] = timings
    with open(out_path, "w") as f:
        json.dump(extras, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in extras.items() if k != "queries"}))
    spark.stop()


if __name__ == "__main__":
    main()
