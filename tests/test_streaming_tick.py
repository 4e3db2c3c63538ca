"""The streaming tick's fixed cost and its overlapped commit: a steady
tick runs a bounded number of Spark jobs, and a tick whose decisions
write fails after its registry append succeeded replays to the same
decisions and registry as a clean run."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.streaming.incremental import process_and_write


@pytest.fixture(scope="module")
def ticks(clips_pdf, tmp_path_factory):
    """Two 32-row tick files: tick 1 re-uploads half of tick 0's payloads
    under fresh ids, and repeats payloads within itself."""
    pdf = clips_pdf.drop(columns=["defect"]).sort_values("clip_id").reset_index(drop=True)
    t0 = pdf.iloc[:32].copy()
    fresh = pdf.iloc[32:48].copy()
    again = pdf.iloc[:16].copy()
    again["clip_id"] = again["clip_id"] + "_re"
    t1 = pd.concat([again, fresh], ignore_index=True)
    d = tmp_path_factory.mktemp("tick_in")
    paths = []
    for i, chunk in enumerate((t0, t1)):
        path = str(d / f"tick-{i}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        paths.append(path)
    return paths


def _decisions(spark, out, batch_id):
    return sorted(
        (r["clip_id"], r["keep"], tuple(r["rules_fired"]))
        for r in spark.read.parquet(out).where(F.col("batch_id") == batch_id).collect()
    )


def test_steady_tick_job_count(spark, ticks, tmp_path, count_jobs):
    """Each stage of a steady tick runs once: the input read, one cache
    fill that runs the tick's only Python stage and also observes the
    touched registry buckets, the keepers computed once for the decisions
    write and the registry append, a registry read with a declared schema
    and a decisions write that runs in the JVM — at most 11 Spark jobs,
    where the design with a second payload scan and a second Python stage
    ran 13 or 14.

    The count was 10 in each of 12 runs on a 4-core host: both
    overlapped writes read the keeper cache, and each submits the job
    that fills it unless the other's fill finished before it planned.
    That race adds at most one job, so 11 is its worst case."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    counts = [
        count_jobs(lambda: process_and_write(spark, spark.read.parquet(path), k, state, out))
        for k, path in enumerate(ticks)
    ]
    assert counts[1] <= 11, counts


def test_failed_decisions_write_replays_clean(spark, ticks, tmp_path):
    """The decisions write and the registry append overlap, so one can
    fail while the other lands. Here the append succeeds and the
    decisions write fails (its output path is a regular file): the batch
    stays uncommitted, and its replay into a good output dir yields the
    clean run's decisions with one registry row per sha."""
    clean_state, clean_out = str(tmp_path / "clean_state"), str(tmp_path / "clean_out")
    for k, path in enumerate(ticks):
        process_and_write(spark, spark.read.parquet(path), k, clean_state, clean_out)

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    process_and_write(spark, spark.read.parquet(ticks[0]), 0, state, out)
    bad_out = str(tmp_path / "not_a_dir")
    with open(bad_out, "w") as fh:
        fh.write("a regular file")
    marker = os.path.join(state, "registry_batches", "1.done")
    batch = spark.read.parquet(ticks[1])
    with pytest.raises(Exception):
        process_and_write(spark, batch, 1, state, bad_out)
    assert not os.path.exists(marker)
    registry = os.path.join(state, "sha_registry")
    clean_registry = os.path.join(clean_state, "sha_registry")
    # the append landed: the registry already holds every sha of the batch
    assert (
        spark.read.parquet(registry).select("sha").distinct().count()
        == spark.read.parquet(clean_registry).select("sha").distinct().count()
    )

    process_and_write(spark, batch, 1, state, out)
    assert os.path.exists(marker)
    assert _decisions(spark, out, 1) == _decisions(spark, clean_out, 1)
    rows = spark.read.parquet(registry)
    assert rows.count() == rows.select("sha").distinct().count()
    key = ["sha", "keeper_clip_id"]
    assert sorted(rows.select(*key).collect()) == sorted(
        spark.read.parquet(clean_registry).select(*key).collect()
    )
