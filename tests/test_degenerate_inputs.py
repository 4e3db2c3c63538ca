"""Degenerate inputs through the stage graph's one payload pass: every
payload null, every payload undecodable, every transcript null, and a
single clip. The batch job and a two-tick stream must not raise, and
their decisions must equal the pandas oracle row for row on keep, rules
and scrubbed transcript."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_quality_checker_spark.operators.outliers import iqr_bounds
from data_quality_checker_spark.oracle.pandas_oracle import label_clips
from data_quality_checker_spark.run.job import run_job
from data_quality_checker_spark.streaming.incremental import process_and_write

_SCHEMA = pa.schema(
    [
        pa.field("clip_id", pa.string(), nullable=False),
        pa.field("bytes", pa.binary()),
        pa.field("sr_hz", pa.int32()),
        pa.field("dur_ms", pa.int32()),
        pa.field("codec", pa.string()),
        pa.field("transcript", pa.string()),
    ]
)


def _write(pdf, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False).cast(_SCHEMA), path)
    return path


def _null_payloads(pdf):
    return pdf.assign(bytes=None)


def _undecodable(pdf):
    # 7 bytes: a RIFF header cut before "WAVE", an odd-length PCM body, a
    # FLAC stub without its rate — no codec can decode any of them
    return pdf.assign(bytes=pdf["bytes"].map(lambda b: None if b is None else b[:7]))


def _null_transcripts(pdf):
    return pdf.assign(transcript=None)


def _single_clip(pdf):
    return pdf.iloc[:1]


CASES = {
    "null_payloads": _null_payloads,
    "undecodable": _undecodable,
    "null_transcripts": _null_transcripts,
    "single_clip": _single_clip,
}


def _decided(frame) -> dict:
    return {
        r["clip_id"]: (r["keep"], tuple(sorted(r["rules_fired"])), r["scrubbed_transcript"])
        for r in frame.select("clip_id", "keep", "rules_fired", "scrubbed_transcript").collect()
    }


def _oracle(pdf) -> dict:
    return {
        r.clip_id: (r.keep, tuple(sorted(r.rules_fired)), r.scrubbed_transcript)
        for r in label_clips(pdf).itertuples()
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_degenerate_input_matches_oracle(spark, clips_pdf, tmp_path, case):
    base = clips_pdf.drop(columns=["defect"]).sort_values("clip_id").iloc[:48]
    pdf = CASES[case](base).reset_index(drop=True)
    want = _oracle(pdf)

    path = _write(pdf, str(tmp_path / "clips.parquet"))
    out = str(tmp_path / "job")
    run_job(spark, path, out, "D")
    assert _decided(spark.read.parquet(os.path.join(out, "decisions"))) == want

    # two ticks split by clip_id: every sha's min clip_id arrives in the
    # first tick that holds the sha, so first-seen-batch dedup is the
    # oracle's min-clip_id dedup; a one-clip input leaves tick 1 empty
    half = (len(pdf) + 1) // 2
    fence = iqr_bounds(spark.read.parquet(path), "dur_ms")
    state, stream_out = str(tmp_path / "state"), str(tmp_path / "stream")
    for k, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        tick = _write(chunk, str(tmp_path / f"tick-{k}.parquet"))
        process_and_write(spark, spark.read.parquet(tick), k, state, stream_out, dur_bounds=fence)
    assert _decided(spark.read.parquet(stream_out)) == want
