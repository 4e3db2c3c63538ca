"""Shared fixtures: one session-scoped SparkSession (local, AQE + Arrow on)
and the deterministic synthetic clips corpus + its oracle labels."""

from __future__ import annotations

import os
import sys
import uuid

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_quality_checker_spark.corpus.generator import generate_clips
from data_quality_checker_spark.oracle.pandas_oracle import label_clips
from data_quality_checker_spark.session import get_spark

TEST_SF = float(os.environ.get("DQC_TEST_SF", "0.02"))  # 400 clips


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="dqc-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """→ ``count(fn)``: the number of Spark jobs ``fn()`` runs, read from
    the statusTracker under a job group of its own (threads that ``fn``
    starts inherit the group)."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def clips_pdf() -> pd.DataFrame:
    """Clips corpus WITH the debug `defect` column."""
    return generate_clips(TEST_SF)


@pytest.fixture(scope="session")
def labels_pdf(clips_pdf) -> pd.DataFrame:
    return label_clips(clips_pdf)


@pytest.fixture(scope="session")
def clips_df(spark, clips_pdf, tmp_path_factory):
    """Clips corpus as a Spark DataFrame read from parquet (exercises the
    real scan path incl. binary columns)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("corpus") / "clips.parquet")
    table = pa.Table.from_pandas(
        clips_pdf.drop(columns=["defect"]), preserve_index=False
    )
    schema = pa.schema(
        [
            pa.field("clip_id", pa.string(), nullable=False),
            pa.field("bytes", pa.binary()),
            pa.field("sr_hz", pa.int32()),
            pa.field("dur_ms", pa.int32()),
            pa.field("codec", pa.string()),
            pa.field("transcript", pa.string()),
        ]
    )
    pq.write_table(table.cast(schema), path)
    return spark.read.parquet(path)
