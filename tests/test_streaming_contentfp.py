"""Cross-batch content dedup (streaming/contentfp.py): a transformed
copy of a clip registered in an EARLIER micro-batch must be flagged
against that batch's keeper; within-batch clusters keep min clip_id;
replays are idempotent."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_quality_checker_spark.corpus.audio import encode_wav
from data_quality_checker_spark.operators import audiofp as FP
from data_quality_checker_spark.pipeline import stage_graph
from data_quality_checker_spark.streaming.contentfp import (
    process_content_increment,
)

SR = FP.FP_SR
SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string"
)


def _speechlike(seed: int, secs: float = 2.0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(int(secs * SR)) / SR
    f = 180 + 60 * np.sin(2 * np.pi * 1.6 * t + rng.uniform(0, 6))
    sig = 0.35 * np.sin(2 * np.pi * np.cumsum(f) / SR)
    sig += 0.12 * np.sin(2 * np.pi * 3.1 * np.cumsum(f) / SR)
    sig *= 0.55 + 0.45 * np.sin(2 * np.pi * 2.8 * t + rng.uniform(0, 6))
    sig += 0.01 * rng.standard_normal(len(t))
    return sig


def _df(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )
    return spark.createDataFrame(pdf, SCHEMA)


def _increment(spark, batch, state_dir, batch_id):
    """process_content_increment fed as the streaming tick feeds it: the
    batch's stage graph with fingerprints, its stats frame cached."""
    graph = stage_graph(batch, with_fingerprints=True)
    graph.stats.persist()
    try:
        return process_content_increment(spark, graph, state_dir, batch_id)
    finally:
        graph.stats.unpersist()
        graph.cache.unpersist()


@pytest.fixture()
def state_dir(tmp_path):
    return str(tmp_path / "state")


def _flags(df):
    return {
        r.clip_id: (r.content_keeper_id, r.is_content_dup) for r in df.collect()
    }


def test_cross_batch_and_within_batch(spark, state_dir):
    base1 = _speechlike(30, 2.5)
    base2 = _speechlike(31, 2.5)
    batch1 = _df(
        spark,
        [
            ("b1_orig", encode_wav(base1, SR), SR, 2500, "wav", "t"),
            ("b1_other", encode_wav(_speechlike(32, 2.5), SR), SR, 2500, "wav", "t"),
        ],
    )
    out1 = _increment(spark, batch1, state_dir, 0)
    f1 = _flags(out1)
    out1.unpersist()
    assert f1 == {
        "b1_orig": ("b1_orig", False),
        "b1_other": ("b1_other", False),
    }

    batch2 = _df(
        spark,
        [
            # gain-scaled copy of a batch-1 clip: different SHA, same content
            ("b2_gaincopy", encode_wav(base1 * 0.6, SR), SR, 2500, "wav", "t"),
            # a within-batch near-dup pair: min clip_id keeps
            ("b2_v1", encode_wav(base2, SR), SR, 2500, "wav", "t"),
            ("b2_v2", encode_wav(base2 * 0.7, SR), SR, 2500, "wav", "t"),
            ("b2_new", encode_wav(_speechlike(33, 2.5), SR), SR, 2500, "wav", "t"),
        ],
    )
    out2 = _increment(spark, batch2, state_dir, 1)
    f2 = _flags(out2)
    out2.unpersist()
    assert f2["b2_gaincopy"] == ("b1_orig", True)  # earlier batch's keeper wins
    assert f2["b2_v1"] == ("b2_v1", False)
    assert f2["b2_v2"] == ("b2_v1", True)
    assert f2["b2_new"] == ("b2_new", False)

    # replay of batch 1 (at-least-once): same answers, no re-registration
    replay = _increment(spark, batch1, state_dir, 0)
    fr = _flags(replay)
    replay.unpersist()
    # b1_orig is already IN the registry from the first run of batch 0 —
    # the replayed scoring must still crown it keeper of its own content
    # (self-match maps to itself), not flag it against itself
    assert fr["b1_orig"] == ("b1_orig", False)
    assert fr["b1_other"] == ("b1_other", False)

    # batch-3 copy of a batch-2 keeper: transitivity through the registry
    batch3 = _df(
        spark,
        [("b3_v3", encode_wav(base2 * 0.85, SR), SR, 2500, "wav", "t")],
    )
    out3 = _increment(spark, batch3, state_dir, 2)
    f3 = _flags(out3)
    out3.unpersist()
    assert f3["b3_v3"] == ("b2_v1", True)  # b2_v2 was never registered


def test_unrelated_clips_never_flagged(spark, state_dir):
    b = _df(
        spark,
        [
            (f"c{i}", encode_wav(_speechlike(40 + i, 2.0), SR), SR, 2000, "wav", "t")
            for i in range(4)
        ],
    )
    out = _increment(spark, b, state_dir, 0)
    flags = _flags(out)
    out.unpersist()
    assert all(not dup for _, dup in flags.values())


def test_batch_post_pass_matches_first_tick(spark, state_dir, monkeypatch):
    """The batch post-pass is the streaming tier's within-batch logic
    with an empty registry: on one batch holding a gain copy, an exact
    copy, an unrelated clip and a silent exact pair,
    content_dedup_decisions and a first tick on an empty state_dir flag
    the same clips with the same keeper ids (the post-pass's verdicts are
    read where it folds them into the decisions)."""
    base = _speechlike(60, 2.5)
    silent = np.zeros(SR, dtype=np.int16)
    rows = [
        ("a_orig", encode_wav(base, SR), SR, 2500, "wav", "t"),
        ("b_gain", encode_wav(base * 0.6, SR), SR, 2500, "wav", "t"),
        ("c_exact", encode_wav(base, SR), SR, 2500, "wav", "t"),
        ("d_other", encode_wav(_speechlike(61, 2.5), SR), SR, 2500, "wav", "t"),
        ("s_a", encode_wav(silent, SR), SR, 1000, "wav", "t"),
        ("s_b", encode_wav(silent, SR), SR, 1000, "wav", "t"),
    ]
    batch = _df(spark, rows)
    out = _increment(spark, batch, state_dir, 0)
    stream = _flags(out)
    out.unpersist()

    seen = {}
    fold = FP.apply_content_verdicts

    def spy(decisions, verdicts):
        seen["verdicts"] = verdicts
        return fold(decisions, verdicts)

    monkeypatch.setattr(FP, "apply_content_verdicts", spy)
    dec = spark.createDataFrame(
        [(r[0], True, []) for r in rows],
        "clip_id string, keep boolean, rules_fired array<string>",
    )
    post = {r.clip_id: r.keep for r in FP.content_dedup_decisions(batch, dec).collect()}

    assert _flags(seen["verdicts"]) == stream == {
        "a_orig": ("a_orig", False),
        "b_gain": ("a_orig", True),
        "c_exact": ("a_orig", True),
        "d_other": ("d_other", False),
    }
    assert {c for c, keep in post.items() if not keep} == {
        c for c, (_, dup) in stream.items() if dup
    }


def test_stream_quality_filter_with_content_dedup(spark, tmp_path):
    """End-to-end streaming entry point with content_dedup=True: a later
    FILE containing a gain-scaled copy of an earlier file's clip drops
    with content_duplicate, while the earlier keeper survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_quality_checker_spark.streaming.incremental import (
        stream_quality_filter,
    )

    base = _speechlike(50, 2.5)
    tx = "hello there this is a transcript of reasonable length"
    d = tmp_path / "in"
    d.mkdir()
    file1 = [
        ("a_orig", encode_wav(base, SR), SR, 2500, "wav", tx),
        ("a_other", encode_wav(_speechlike(51, 2.5), SR), SR, 2500, "wav", tx),
    ]
    file2 = [
        ("b_gaincopy", encode_wav(base * 0.6, SR), SR, 2500, "wav", tx),
        ("b_new", encode_wav(_speechlike(52, 2.5), SR), SR, 2500, "wav", tx),
    ]
    for i, rows in enumerate((file1, file2)):
        pdf = pd.DataFrame(
            rows,
            columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
        )
        # the file-source schema is CLIPS_SCHEMA (int32 sr_hz/dur_ms);
        # pandas defaults these to int64 and the parquet read then fails
        pdf["sr_hz"] = pdf["sr_hz"].astype("int32")
        pdf["dur_ms"] = pdf["dur_ms"].astype("int32")
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(d / f"part-{i}.parquet"),
        )

    out = str(tmp_path / "out")
    # maxFilesPerTrigger=8 would swallow both files into one batch; force
    # per-file batches by streaming with the entry point as-is — the file
    # source lists both files at start, so use two sequential runs of the
    # availableNow trigger with the second file added between them.
    (d / "part-1.parquet").rename(tmp_path / "part-1.parquet.hold")
    q = stream_quality_filter(
        spark, str(d), out, str(tmp_path / "ckpt"), str(tmp_path / "state"),
        content_dedup=True,
    )
    q.awaitTermination(300)
    (tmp_path / "part-1.parquet.hold").rename(d / "part-1.parquet")
    q = stream_quality_filter(
        spark, str(d), out, str(tmp_path / "ckpt"), str(tmp_path / "state"),
        content_dedup=True,
    )
    q.awaitTermination(300)

    got = {
        r.clip_id: (r.keep, tuple(r.rules_fired))
        for r in spark.read.parquet(out).collect()
    }
    assert got["a_orig"][0] is True
    assert got["b_gaincopy"][0] is False
    assert "content_duplicate" in got["b_gaincopy"][1]
    assert "duplicate" not in got["b_gaincopy"][1]  # SHA tier cannot see it
    assert got["b_new"][0] is True and got["a_other"][0] is True


def test_content_registry_compaction_bounds_file_count(
    spark, tmp_path_factory, monkeypatch
):
    """The fp_tokens / fp_store registries must not grow a bucket's file
    count O(batches) — the same per-bucket compaction bound the SHA
    registry proves (test_streaming.py). Force everything into ONE
    bucket, register 12 batches of all-new content, and require both
    hot buckets bounded by MAX_BUCKET_FILES — with the registry still
    matching: a gain copy of batch-0 content probed afterwards must
    flag against the original keeper."""
    import os

    import data_quality_checker_spark.streaming.contentfp as cfp
    from data_quality_checker_spark.streaming import incremental as inc

    monkeypatch.setattr(cfp, "N_FP_BUCKETS", 1)
    state = str(tmp_path_factory.mktemp("cfp_compact"))

    def enc(sig):
        x = np.clip(sig * 32767.0, -32768, 32767).astype(np.int16)
        return encode_wav(x, SR)

    n_batches = 12
    for bid in range(n_batches):
        rows = [
            (
                f"b{bid:02d}_c{j}",
                enc(_speechlike(100 + bid * 7 + j, secs=1.2)),
                SR,
                1200,
                "wav",
                "tx",
            )
            for j in range(2)
        ]
        out = _increment(spark, _df(spark, rows), state, bid)
        assert out.where("is_content_dup").count() == 0, bid  # all-new content
        out.unpersist()

    for table, part in (("fp_tokens", "tbkt"), ("fp_store", "cbkt")):
        bucket = os.path.join(state, table, f"{part}=0")
        n_files = sum(1 for f in os.listdir(bucket) if f.endswith(".parquet"))
        assert n_files <= inc.MAX_BUCKET_FILES, (table, n_files)

    # compaction preserved the registry: a gain-scaled copy of batch 0's
    # first clip still matches its original keeper
    probe = _df(
        spark,
        [("z_copy", enc(_speechlike(100, secs=1.2) * 0.6), SR, 1200, "wav", "tx")],
    )
    out = _increment(spark, probe, state, n_batches)
    flags = _flags(out)
    assert flags["z_copy"] == ("b00_c0", True), flags
    out.unpersist()
