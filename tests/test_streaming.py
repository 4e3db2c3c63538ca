"""Streaming ingest tests: incremental scoring with cross-batch dedup
state must reproduce the batch pipeline's keep/drop decisions when files
arrive in clip_id order."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.streaming.incremental import (
    process_and_write,
    read_registry,
    stream_quality_filter,
)


@pytest.fixture(scope="module")
def halves(spark, clips_pdf, tmp_path_factory):
    """Corpus split into two parquet files by clip_id order (earlier ids
    arrive first — the deterministic-keeper precondition)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("stream_in")
    pdf = clips_pdf.drop(columns=["defect"]).sort_values("clip_id").reset_index(drop=True)
    mid = len(pdf) // 2
    for i, chunk in enumerate((pdf.iloc[:mid], pdf.iloc[mid:])):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            str(d / f"part-{i}.parquet"),
        )
    return str(d)


def _batch_decisions_no_outlier(spark, clips_df):
    """Batch reference: same pipeline with dur_bounds=None (streaming has
    no global fence; dur_outlier is advisory so keep/drop is unaffected)."""
    from data_quality_checker_spark.pipeline import stage_graph

    return stage_graph(clips_df).decisions


def test_incremental_matches_batch(spark, clips_df, halves, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("stream_state"))
    out = str(tmp_path_factory.mktemp("stream_out0"))
    files = sorted(glob.glob(os.path.join(halves, "*.parquet")))
    for bid, f in enumerate(files):
        process_and_write(spark, spark.read.parquet(f), bid, state, out)
    got = {
        r["clip_id"]: (r["keep"], tuple(r["rules_fired"]))
        for r in spark.read.parquet(out).collect()
    }

    expected = {
        r["clip_id"]: (r["keep"], tuple(r["rules_fired"]))
        for r in _batch_decisions_no_outlier(spark, clips_df).collect()
    }
    assert got == expected


def test_increment_idempotent_per_batch(spark, halves, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("stream_state2"))
    out = str(tmp_path_factory.mktemp("stream_out2"))
    f = sorted(glob.glob(os.path.join(halves, "*.parquet")))[0]
    batch = spark.read.parquet(f)
    process_and_write(spark, batch, 0, state, out)
    n1 = read_registry(spark, state).count()
    # replay of the same batch_id must not grow the registry
    process_and_write(spark, batch, 0, state, out)
    n2 = read_registry(spark, state).count()
    assert n1 == n2


def test_streaming_query_end_to_end(spark, clips_df, halves, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    state = str(tmp_path_factory.mktemp("stream_state3"))
    q = stream_quality_filter(spark, halves, out, ckpt, state)
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    assert got.count() == clips_df.count()
    assert got.select("clip_id").distinct().count() == clips_df.count()
    # cross-batch dedup engaged: some duplicates must be flagged
    n_dups = got.where(F.array_contains("rules_fired", "duplicate")).count()
    assert n_dups > 0


def test_registry_read_is_bucket_pruned(spark, halves, tmp_path_factory):
    """The per-batch registry read must touch ONLY the sha-buckets present
    in the batch (VERDICT r1 item 6). Proof: after the first batch, plant
    a CORRUPT parquet file in a registry bucket the second batch's shas do
    not hash into — if the read were unbounded it would crash on it."""
    from data_quality_checker_spark.operators.dedup import sha1_expr
    from data_quality_checker_spark.streaming.incremental import (
        load_registry_meta,
        pin_bucket_count,
        sha_bucket_expr,
    )

    state = str(tmp_path_factory.mktemp("stream_state4"))
    out = str(tmp_path_factory.mktemp("stream_out4"))
    files = sorted(glob.glob(os.path.join(halves, "*.parquet")))
    b0 = spark.read.parquet(files[0])
    # explicit fan-out override, pinned before the first tick: with the
    # derived sandbox-sized count every bucket would be occupied and no
    # foreign bucket would exist to plant the corrupt file in
    pin_bucket_count(state, "n_sha_buckets", "sha_registry", 0, 256, explicit=256)
    process_and_write(spark, b0, 0, state, out)

    n_bkt = load_registry_meta(state)["n_sha_buckets"]
    assert n_bkt == 256  # the tick kept the pinned override
    b1 = spark.read.parquet(files[1])
    used = {
        r["b"]
        for r in b1.select(sha1_expr("bytes").alias("sha"))
        .where(F.col("sha").isNotNull())
        .select(sha_bucket_expr("sha", n_bkt).alias("b"))
        .distinct()
        .collect()
    }
    foreign = next(b for b in range(n_bkt) if b not in used)
    bad_dir = os.path.join(state, "sha_registry", f"sbkt={foreign}")
    os.makedirs(bad_dir, exist_ok=True)
    with open(os.path.join(bad_dir, "part-corrupt.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")

    # would raise on an unpruned scan; must succeed on a pruned one
    process_and_write(spark, b1, 1, state, out)
    assert spark.read.parquet(out).count() == b0.count() + b1.count()


def test_output_replay_is_idempotent(spark, halves, tmp_path_factory):
    """foreachBatch is at-least-once: replaying a batch (crash between the
    output write and the checkpoint commit) must not duplicate decision
    rows (ADVICE r1)."""
    state = str(tmp_path_factory.mktemp("stream_state5"))
    out = str(tmp_path_factory.mktemp("stream_out5"))
    f = sorted(glob.glob(os.path.join(halves, "*.parquet")))[0]
    batch = spark.read.parquet(f)
    process_and_write(spark, batch, 0, state, out)
    n1 = spark.read.parquet(out).count()
    process_and_write(spark, batch, 0, state, out)  # replay
    got = spark.read.parquet(out)
    assert got.count() == n1
    assert got.select("clip_id").distinct().count() == n1


def test_registry_compaction_bounds_file_count(
    spark, clips_pdf, tmp_path_factory, monkeypatch
):
    """VERDICT r2 item 3: per-batch appends must NOT grow a registry
    bucket's file count O(batches). Force every sha into ONE bucket
    (N_SHA_BUCKETS=1), run 24 micro-batch ticks, and require the hot
    bucket to end bounded by MAX_BUCKET_FILES — with no registered sha
    lost. Every tick's decisions must be readable: compaction deletes
    registry files, so it may only run after the tick's decisions plan
    (which lists them) has been written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import data_quality_checker_spark.streaming.incremental as inc

    monkeypatch.setattr(inc, "N_SHA_BUCKETS", 1)
    state = str(tmp_path_factory.mktemp("compact_state"))
    out = str(tmp_path_factory.mktemp("compact_out"))
    src = tmp_path_factory.mktemp("compact_in")

    pdf = (
        clips_pdf.drop(columns=["defect"])
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    n_batches = 24
    chunk = max(1, len(pdf) // n_batches)
    for bid in range(n_batches):
        part = pdf.iloc[bid * chunk : (bid + 1) * chunk]
        if part.empty:
            break
        f = str(src / f"b{bid}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), f)
        inc.process_and_write(spark, spark.read.parquet(f), bid, state, out)
        got = spark.read.parquet(out).where(F.col("batch_id") == bid)
        assert got.count() == len(part), bid

    bucket = os.path.join(state, "sha_registry", "sbkt=0")
    n_files = sum(1 for f in os.listdir(bucket) if f.endswith(".parquet"))
    assert n_files <= inc.MAX_BUCKET_FILES, n_files

    # compaction must preserve the registry exactly: one keeper per
    # distinct non-null sha across the whole corpus
    from data_quality_checker_spark.operators.dedup import sha1_expr

    reg = inc.read_registry(spark, state)
    n_shas = (
        spark.read.parquet(str(src))
        .select(sha1_expr("bytes").alias("sha"))
        .where(F.col("sha").isNotNull())
        .distinct()
        .count()
    )
    assert reg.count() == n_shas
    assert reg.select("sha").distinct().count() == n_shas


def test_multi_batch_streaming_keeps_all_batches(spark, clips_df, tmp_path_factory):
    """Regression: with >maxFilesPerTrigger input files the stream runs
    MULTIPLE micro-batches; every batch's decisions partition must
    survive (a static-overwrite write would truncate all but the last —
    the conf must reach the micro-batch's cloned session)."""
    src = str(tmp_path_factory.mktemp("many_in") / "clips")
    clips_df.repartition(24).write.parquet(src)
    out = str(tmp_path_factory.mktemp("many_out"))
    ckpt = str(tmp_path_factory.mktemp("many_ckpt"))
    state = str(tmp_path_factory.mktemp("many_state"))
    q = stream_quality_filter(spark, src, out, ckpt, state)
    q.awaitTermination(300)
    dec = spark.read.parquet(out)
    batches = [r["batch_id"] for r in dec.select("batch_id").distinct().collect()]
    assert len(batches) >= 3, batches
    assert dec.count() == clips_df.count()
    assert dec.select("clip_id").distinct().count() == clips_df.count()
    # cross-batch dedup invariant: exactly group_size-1 duplicates per sha
    # group, whatever the batch arrival order
    from data_quality_checker_spark.operators.dedup import sha1_expr

    groups = (
        clips_df.select(sha1_expr("bytes").alias("sha"))
        .where(F.col("sha").isNotNull())
        .groupBy("sha")
        .count()
    )
    expected_dups = sum(r["count"] - 1 for r in groups.collect())
    n_dup_flagged = dec.where(F.array_contains("rules_fired", "duplicate")).count()
    assert n_dup_flagged == expected_dups > 0


def test_bucket_count_pinning(tmp_path):
    """Registry fan-out derives from first-batch size, clamps to
    [MIN_REGISTRY_BUCKETS, N_SHA_BUCKETS], pins in registry_meta.json
    (later calls return the pinned value whatever they pass), and
    legacy registries (table dir without meta) pin the module global."""
    from data_quality_checker_spark.streaming.incremental import (
        MIN_REGISTRY_BUCKETS,
        N_SHA_BUCKETS,
        load_registry_meta,
        pin_bucket_count,
    )

    s = str(tmp_path / "s1")
    # small stream -> floor
    assert pin_bucket_count(s, "n_sha_buckets", "sha_registry", 500, 256) == 32
    # pinned: a later tick with a huge batch still gets 32
    assert pin_bucket_count(s, "n_sha_buckets", "sha_registry", 10**6, 256) == 32
    assert load_registry_meta(s)["n_sha_buckets"] == 32
    # second table key extends the same meta file
    assert pin_bucket_count(s, "n_fp_buckets", "fp_tokens", 2000, 256) == 32
    assert set(load_registry_meta(s)) == {"n_sha_buckets", "n_fp_buckets"}

    # production-sized first batch -> upper bound
    s2 = str(tmp_path / "s2")
    assert pin_bucket_count(s2, "n_sha_buckets", "sha_registry", 10**6, 256) == 256

    # thunk form (the lazy count) + mid-range derivation: 2^ceil
    s3 = str(tmp_path / "s3")
    assert pin_bucket_count(s3, "n_sha_buckets", "sha_registry", lambda: 6000, 256) == 128

    # legacy registry: table dir exists, no meta -> the old global is pinned
    s4 = tmp_path / "s4"
    (s4 / "sha_registry").mkdir(parents=True)
    assert (
        pin_bucket_count(str(s4), "n_sha_buckets", "sha_registry", 100, N_SHA_BUCKETS)
        == N_SHA_BUCKETS
    )

    # explicit override wins on first pin
    s5 = str(tmp_path / "s5")
    assert (
        pin_bucket_count(s5, "n_sha_buckets", "sha_registry", 100, 256, explicit=64)
        == 64
    )
    assert MIN_REGISTRY_BUCKETS == 32


def test_bucket_count_pinning_cross_thread(tmp_path):
    """The threaded tick pins the SHA key and the fp keys from two
    threads into ONE meta file on a fresh registry's first batch; the
    module lock makes the read-modify-write atomic so no key is lost
    (without it, one thread's meta.json write clobbers the other's)."""
    import threading

    from data_quality_checker_spark.streaming.incremental import (
        load_registry_meta,
        pin_bucket_count,
    )

    for trial in range(20):
        s = str(tmp_path / f"s{trial}")
        barrier = threading.Barrier(2)

        def _pin(key: str) -> None:
            barrier.wait()
            pin_bucket_count(s, key, key + "_tbl", 500, 256)

        threads = [
            threading.Thread(target=_pin, args=(k,))
            for k in ("n_sha_buckets", "n_fp_buckets")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert set(load_registry_meta(s)) == {"n_sha_buckets", "n_fp_buckets"}, (
            f"lost a pin on trial {trial}"
        )
