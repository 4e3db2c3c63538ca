"""Resume semantics of run/job.py (SURVEY §5.2 item 4): a failed run must
not recompute completed buckets, and a resumed run must produce exactly
the same final output as an uninterrupted one."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.config import DEFAULT_CONFIG
from data_quality_checker_spark.run.job import completed_buckets, run_job, summary_view


@pytest.fixture(scope="module")
def corpus_path(clips_pdf, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("jobcorpus") / "clips.parquet")
    table = pa.Table.from_pandas(
        clips_pdf.drop(columns=["defect"]), preserve_index=False
    )
    pq.write_table(table, path)
    return path


def test_full_run_then_noop_resume(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("jobout"))
    stats = run_job(spark, corpus_path, out, "runA")
    assert stats["rows_processed"] > 0
    n_decisions = spark.read.parquet(os.path.join(out, "decisions")).count()
    assert n_decisions == stats["rows_processed"]

    # lineage row counts reconcile with decisions
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.agg(F.sum("rows_in")).first()[0] == n_decisions

    # second invocation: everything committed → zero work
    stats2 = run_job(spark, corpus_path, out, "runA")
    assert stats2["rows_processed"] == 0
    assert stats2["buckets_done"] == lineage.select("bucket").distinct().count()


def test_resume_after_partial_failure(spark, corpus_path, tmp_path_factory):
    """Simulate a crash: complete run, then delete the lineage commits and
    output partitions for two buckets → the resumed run recomputes ONLY
    those buckets and the final table equals the uninterrupted one."""
    out_full = str(tmp_path_factory.mktemp("job_full"))
    run_job(spark, corpus_path, out_full, "run1")
    expected = {
        r["clip_id"]: (r["keep"], tuple(r["rules_fired"]))
        for r in spark.read.parquet(os.path.join(out_full, "decisions")).collect()
    }

    out = str(tmp_path_factory.mktemp("job_crash"))
    run_job(spark, corpus_path, out, "run2")
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    victims = [r["bucket"] for r in lineage.select("bucket").distinct().limit(2).collect()]

    # crash simulation: those buckets' partitions are half-written garbage
    # and their lineage commit never happened
    kept_lineage = lineage.where(~F.col("bucket").isin(victims)).collect()
    shutil.rmtree(os.path.join(out, "lineage"))
    from data_quality_checker_spark.schema import LINEAGE_SCHEMA

    spark.createDataFrame(kept_lineage, LINEAGE_SCHEMA).write.parquet(
        os.path.join(out, "lineage")
    )
    for b in victims:
        shutil.rmtree(os.path.join(out, "decisions", "run_id=run2", f"bucket={b}"))

    done_before = completed_buckets(spark, out, "run2")
    assert all(b not in done_before for b in victims)

    stats = run_job(spark, corpus_path, out, "run2")
    # only the victim buckets were recomputed
    assert stats["buckets_done"] == len(done_before)
    assert 0 < stats["rows_processed"] < len(expected)

    got = {
        r["clip_id"]: (r["keep"], tuple(r["rules_fired"]))
        for r in spark.read.parquet(os.path.join(out, "decisions")).collect()
    }
    assert got == expected

    # summary view reconciles
    sv = summary_view(spark, out).where(F.col("run_id") == "run2").first()
    assert sv["rows_in"] == len(expected)
    assert sv["rows_kept"] + sv["rows_dropped"] == sv["rows_in"]


def test_corrupt_lineage_part_raises(spark, corpus_path, tmp_path):
    """An unreadable lineage part file fails the job instead of reading
    as "no bucket committed", which would silently redo every bucket on
    every run."""
    from datetime import datetime

    from data_quality_checker_spark.schema import LINEAGE_SCHEMA

    lineage = str(tmp_path / "out" / "lineage")
    spark.createDataFrame(
        [("run4", 0, 1, 1, 0, datetime(2026, 1, 1))], LINEAGE_SCHEMA
    ).write.parquet(lineage)
    # sorts before the real part file, so the read's schema inference
    # (first file by path) is what meets it
    with open(os.path.join(lineage, "part-0-corrupt.snappy.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_job(spark, corpus_path, str(tmp_path / "out"), "run4")


def test_spark_submit_py_files_smoke(clips_pdf, tmp_path_factory):
    """North-rule launch contract: the job runs via ``spark-submit
    --py-files <package.zip>`` from a directory where the repo is NOT
    importable — driver and executors both resolve the package from the
    shipped zip (session.ship_package skips re-zipping under a zip
    import). One tiny corpus, real subprocess, JSON stats on stdout."""
    import glob
    import json
    import subprocess
    import sys
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path_factory.mktemp("submit")
    zpath = str(tmp / "dqc.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for f in glob.glob(
            os.path.join(repo, "data_quality_checker_spark", "**", "*.py"),
            recursive=True,
        ):
            z.write(f, os.path.relpath(f, repo))

    inp = str(tmp / "clips.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            clips_pdf.drop(columns=["defect"]).head(60), preserve_index=False
        ),
        inp,
    )
    launcher = tmp / "launch_job.py"
    launcher.write_text(
        "from data_quality_checker_spark.run.job import main\nmain()\n"
    )
    out = str(tmp / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = "2"
    r = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--py-files", zpath,
            str(launcher),
            "--input", inp,
            "--output", out,
            "--run-id", "submit-smoke",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp),  # repo not importable from here — the zip must carry it
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["rows_processed"] == 60
    dec_files = glob.glob(os.path.join(out, "decisions", "**", "*.parquet"), recursive=True)
    assert dec_files, "no decisions written"
