"""The batch job takes its counts from Observations on jobs it runs
anyway: the lineage rows from the decisions write, the IQR fence from the
stage graph's cache fill. Each must equal what re-deriving it gives."""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.config import DEFAULT_CONFIG
from data_quality_checker_spark.operators.outliers import iqr_bounds
from data_quality_checker_spark.pipeline import stage_graph
from data_quality_checker_spark.run.job import run_job
from data_quality_checker_spark.schema import CLIPS_SCHEMA, LINEAGE_SCHEMA


def _lineage(spark, out, run_id) -> list[tuple]:
    """(bucket, rows_in, rows_kept, rows_dropped), one per lineage row."""
    rows = spark.read.parquet(os.path.join(out, "lineage")).where(F.col("run_id") == run_id)
    return sorted(
        (r["bucket"], r["rows_in"], r["rows_kept"], r["rows_dropped"]) for r in rows.collect()
    )


def _decided(spark, out, run_id) -> list[tuple]:
    """The same counts from a groupBy over the run's decisions."""
    counts = (
        spark.read.parquet(os.path.join(out, "decisions"))
        .where(F.col("run_id") == run_id)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("kept"))
    )
    return sorted((r["bucket"], r["n"], r["kept"], r["n"] - r["kept"]) for r in counts.collect())


def test_lineage_matches_decisions_fresh_and_resumed(spark, clips_df, tmp_path):
    """A fresh run writes one lineage file whose rows equal a groupBy over
    its decisions; a resumed run appends rows for the redone buckets only,
    and the table still equals the groupBy, one row per bucket. The run
    id holds a ':', which the partition directory name escapes."""
    path, out, run = clips_df.inputFiles()[0], str(tmp_path / "out"), "L:1"
    fresh = run_job(spark, path, out, run)
    lineage = _lineage(spark, out, run)
    assert lineage == _decided(spark, out, run)
    assert len(glob.glob(os.path.join(out, "lineage", "*.parquet"))) == 1

    # crash simulation: two buckets' commits never happened and their
    # decisions are gone
    victims = {lineage[0][0], lineage[-1][0]}
    kept = (
        spark.read.parquet(os.path.join(out, "lineage"))
        .where(~F.col("bucket").isin(*victims))
        .collect()
    )
    shutil.rmtree(os.path.join(out, "lineage"))
    spark.createDataFrame(kept, LINEAGE_SCHEMA).write.parquet(os.path.join(out, "lineage"))
    for b in victims:
        shutil.rmtree(os.path.join(out, "decisions", "run_id=L%3A1", f"bucket={b}"))

    resumed = run_job(spark, path, out, run)
    after = _lineage(spark, out, run)
    committed = {(r["bucket"], r["rows_in"], r["rows_kept"], r["rows_dropped"]) for r in kept}
    appended = sorted(set(after) - committed)
    assert {row[0] for row in appended} == victims
    assert after == lineage == _decided(spark, out, run)
    assert resumed["rows_processed"] == sum(row[1] for row in appended)
    # the fence is the full input's on resume too
    assert resumed["dur_bounds"] == fresh["dur_bounds"]


def test_fill_fence_matches_iqr_bounds(spark, clips_df, clips_pdf):
    """The fence the cache fill observes is ``iqr_bounds``' exactly, and
    None where the guards say so: an all-null ``dur_ms``, or fewer than
    ``outlier_min_rows`` values (the full corpus, four of them non-null)."""
    cfg = DEFAULT_CONFIG
    four = clips_pdf.dropna(subset=["dur_ms"]).drop_duplicates("dur_ms")["clip_id"][:4]
    few = clips_df.withColumn(
        "dur_ms", F.when(F.col("clip_id").isin(*four.tolist()), F.col("dur_ms"))
    )
    cases = [
        (clips_df, cfg, True),
        (clips_df.withColumn("dur_ms", F.lit(None).cast("int")), cfg, False),
        (few, cfg, False),
        (few, replace(cfg, outlier_min_rows=4), True),
    ]
    for df, c, defined in cases:
        graph = stage_graph(df, c, input_fence=True)
        graph.cache.unpersist()
        assert graph.dur_bounds == iqr_bounds(
            df, "dur_ms", c.outlier_iqr_mult, c.outlier_min_rows
        )
        assert (graph.dur_bounds is not None) == defined
    with pytest.raises(ValueError):
        stage_graph(clips_df, cfg, (0.0, 1.0), input_fence=True)


def test_zero_row_input_writes_nothing(spark, tmp_path):
    path, out = str(tmp_path / "empty.parquet"), str(tmp_path / "out")
    spark.createDataFrame([], CLIPS_SCHEMA).write.parquet(path)
    stats = run_job(spark, path, out, "E")
    assert stats["rows_processed"] == 0
    assert not os.path.exists(os.path.join(out, "lineage"))


def test_fresh_run_job_count(spark, clips_df, tmp_path, count_jobs):
    """A fresh run_job reads its fence and its lineage counts from
    observations and runs its Python UDFs once, in the stage graph's
    cache fill: the decisions write runs in the JVM over that cache.

    Counting the input read, the test corpus ran 10 Spark jobs with 64
    lineage buckets (12 of 12 runs on a 4-core host; the findings read
    of 64 bucket dirs adds a parallel listing job) and 9 with 8 buckets,
    where the design with a second payload scan and a second Python
    stage ran 13 and 14 on 600 clips / 8 buckets."""
    path = clips_df.inputFiles()[0]
    wide = count_jobs(lambda: run_job(spark, path, str(tmp_path / "wide"), "J"))
    cfg = replace(DEFAULT_CONFIG, n_lineage_buckets=8)
    narrow = count_jobs(lambda: run_job(spark, path, str(tmp_path / "narrow"), "J", cfg))
    assert wide <= 10 and narrow <= 9, (wide, narrow)


def test_one_file_per_bucket(spark, clips_pdf, tmp_path):
    """``run_job`` writes one decisions file and one findings file per
    (run_id, bucket), and ``write_metrics`` one file per bucket, however
    many partitions the input scan and the stage graph's cache have (here
    four input files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_checker_spark.run.rescore import write_metrics

    pdf = clips_pdf.drop(columns=["defect"])
    clips_dir = tmp_path / "clips"
    clips_dir.mkdir()
    for k in range(4):
        part = pa.Table.from_pandas(pdf.iloc[k::4], preserve_index=False)
        pq.write_table(part, str(clips_dir / f"part-{k}.parquet"))
    cfg = replace(DEFAULT_CONFIG, n_lineage_buckets=8)
    out = str(tmp_path / "out")
    run_job(spark, str(clips_dir), out, "F", cfg)
    assert spark.read.parquet(str(clips_dir)).rdd.getNumPartitions() > 1
    for table in ("decisions", "findings"):
        files = glob.glob(os.path.join(out, table, "run_id=F", "bucket=*", "*.parquet"))
        buckets = [os.path.basename(os.path.dirname(f)) for f in files]
        assert sorted(buckets) == sorted(set(buckets)) and len(buckets) == 8, (table, buckets)
    metrics = str(tmp_path / "metrics")
    write_metrics(spark, spark.read.parquet(str(clips_dir)), metrics, cfg)
    files = glob.glob(os.path.join(metrics, "bucket=*", "*.parquet"))
    buckets = [os.path.basename(os.path.dirname(f)) for f in files]
    assert sorted(buckets) == sorted(set(buckets)) and len(buckets) == 8, buckets
