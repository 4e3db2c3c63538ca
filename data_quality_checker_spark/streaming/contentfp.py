"""Cross-batch CONTENT dedup for the streaming path — the fingerprint
analog of the SHA registry (streaming/incremental.py).

The SHA registry catches byte-identical re-uploads across micro-batches;
a re-encoded / gain-scaled / resampled copy of last week's clip sails
through it. This module keeps TWO bucketed parquet side-tables under the
stream's ``state_dir`` so every micro-batch can probe all previously
seen CONTENT:

* ``fp_tokens/tbkt=K``  — (token, clip_id): the Philips lookup table
  (operators/audiofp) as a persistent inverted index, hash-partitioned
  by token so a batch's probe reads only the buckets its own tokens
  fall into;
* ``fp_store/cbkt=K``   — (clip_id, n_subfp, fp): the full fingerprint
  per REGISTERED KEEPER (~90 ints each), hash-partitioned by clip_id so
  the BER-verify stage fetches exactly the candidate keepers' rows.

Per micro-batch:

1. take the batch's rep-level fingerprints from the tick's stage graph
   (pipeline.stage_graph with_fingerprints: the same decode pass as the
   audio stats, once per distinct payload) and its (clip → rep) key map
   from the graph's cached sha pass;
2. ACROSS batches: batch tokens ⋈ pruned ``fp_tokens`` buckets →
   candidate (batch clip, registered keeper) pairs sharing ≥
   least(MIN_SHARED_TOKENS, tokens(clip), tokens(keeper)) tokens (the
   spec-v4 adaptive floor; keeper token counts stored as ``n_tok`` at
   registration) → fetch the keepers' fingerprints from
   pruned ``fp_store`` buckets → shared BER verify (audiofp.with_ber) →
   a batch clip matching ANY registered keeper is a content duplicate
   of the EARLIEST registry match: min over (reg_batch, keeper id), so
   first-seen-BATCH genuinely wins (``fp_store`` records the
   registering batch), mirroring the SHA registry;
3. WITHIN the batch, and the verdicts: audiofp.content_verdicts with
   the step-2 matches as its registry — the batch post-pass
   (audiofp.content_dedup_decisions) is the same call with no registry;
4. register the batch's surviving cluster keepers (not already matched
   to the registry) into both tables through incremental.commit_batch:
   the same O(1) per-batch marker-file idempotence (marker dir
   ``fp_batches``), pruned reads and per-bucket compaction as the SHA
   registry, so neither table degrades into a small-file storm. A batch
   with no fingerprinted clip registers nothing.

Scale shape: every cross-table touch is an equi-join on a
hash-partitioned key with the partition list pruned to the batch's own
keys; fingerprints (hundreds of bytes) ship only for verified
candidates; audio bytes never reach this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audiofp import (
    CONTENT_MAX_BER,
    MIN_SHARED_TOKENS,
    TOKEN_LEN,
    content_verdicts,
    fingerprint_tokens,
    payload_reps,
    with_ber,
)
from ..pipeline import StageGraph
from .incremental import StateTable, bucket_of, commit_batch, pin_bucket_count

# Upper bound; the effective fan-out is pinned per state_dir at first
# tick (incremental.pin_bucket_count) so small streams don't pay a
# 256-dir append per tick — see the N_SHA_BUCKETS comment.
N_FP_BUCKETS = 256

FP_TOKENS = StateTable("fp_tokens", "tbkt", "fptok", "token")
FP_STORE = StateTable("fp_store", "cbkt", "fpstore", "clip_id")


def process_content_increment(
    spark: SparkSession,
    graph: StageGraph,
    state_dir: str,
    batch_id: int,
) -> DataFrame:
    """Score one micro-batch for content duplicates within AND across
    batches → (clip_id, content_keeper_id, is_content_dup) for every
    batch clip whose payload group carries ≥1 fingerprint token — clips
    of undecodable or token-free (all-degenerate silence windows, or
    every token df-capped) groups are absent, since no token can ever
    pair them (callers must left-join, as apply_content_verdicts does).
    Idempotent per batch_id.

    ``graph`` — the tick's pipeline.stage_graph over the batch, built
    with ``with_fingerprints=True``: its cached ``hashed`` frame gives
    the (clip_id, rep_id) key map and its ``stats`` frame the rep-level
    fingerprints, so the tier adds no sha pass and no decode of its own.
    Cache ``graph.stats`` before the call (process_and_write does): the
    probe, the within-batch pairing and the registration each read it.
    The graph's frames stay the caller's to unpersist.

    The whole tier runs at REPRESENTATIVE level (payload_reps: one rep
    per distinct (sha1, codec, sr_hz) key): byte-identical clips share a
    fingerprint by construction, so only reps are decoded, tokenized,
    probed against the registry and clustered. The within-batch pairing,
    the keeper precedence and the expansion over each exact-dup group are
    audiofp.content_verdicts with the registry matches as its
    ``registry`` — the batch post-pass (content_dedup_decisions) is the
    same call with none. A dup-heavy batch — the design regime — costs
    one decode per distinct payload and zero intra-group pair rows.

    Hub tokens are capped (spec v5): the "auto" df cap derives in-plan
    from THIS batch's distinct-fingerprint token stats and thins the
    batch-side token stream, which bounds BOTH the
    within-batch self-join fan-out and the registry-probe fan-out (a
    stop-token the batch side dropped never joins any registry posting
    list); registration stores only surviving tokens, so the registry
    never accumulates a hub posting list either."""
    # effective bucket fan-out, pinned per state_dir at first tick (both
    # fp tables share it; the sha tick pinned the sha count from the
    # same batch already, so the meta file is just extended here)
    n_bkt = pin_bucket_count(
        state_dir, "n_fp_buckets", FP_TOKENS.name, graph.n_rows, N_FP_BUCKETS
    )

    keys = payload_reps(graph.hashed)
    fps = graph.stats.select(
        F.col("rep_id").alias("clip_id"), "n_subfp", "fp"
    ).where(F.col("fp").isNotNull() & (F.col("n_subfp") >= TOKEN_LEN))
    owned: list[DataFrame] = []
    try:
        # The probe, the within-batch pairing, and the registration all
        # consume THIS persisted frame, so they drop the same stop-tokens
        # by construction; the "auto" cap is derived inside its plan.
        toks = fingerprint_tokens(fps).persist()
        owned.append(toks)

        # --- across batches: probe the token index, verify vs the store
        # (this collect is also the action that materializes the toks
        # persist — a separate toks.count() would be one more fixed-cost
        # job per tick for the same scan)
        probe_buckets = sorted(
            r["b"]
            for r in toks.select(bucket_of("token", n_bkt).alias("b"))
            .distinct()
            .collect()
        )
        reg_toks = FP_TOKENS.read(spark, state_dir, probe_buckets)
        cross = None
        if reg_toks is not None:
            # same candidate discipline as the batch operator: shared
            # distinct tokens ≥ least(MIN_SHARED_TOKENS, tokens(batch
            # clip), tokens(keeper)) — the spec-v4 adaptive floor; the
            # fixed-MIN part of the prune runs BEFORE any fingerprint
            # array ships, the keeper-side least() needs the keeper's
            # global token count, which registration stores as ``n_tok``
            # (pruned bucket reads cannot reconstruct it)
            # persisted: the keeper-bucket collect below must evaluate
            # this registry-probe join anyway — without the barrier the
            # rows job would re-read the pruned registry buckets and
            # re-run the whole join a second time (one more fixed-cost
            # job's worth of work per tick), and the persist also
            # freezes the probe result before the tick's own appends
            # land in the same paths
            cand = (
                toks.join(reg_toks.select("token", "clip_id").withColumnRenamed(
                    "clip_id", "keeper_id"
                ), "token")
                .groupBy(
                    F.col("clip_id").alias("clip_b"),
                    F.col("keeper_id").alias("clip_a"),
                )
                .agg(F.count(F.lit(1)).alias("n_shared"))
                .persist()
            )
            owned.append(cand)
            keeper_buckets = sorted(
                r["b"]
                for r in cand.select(bucket_of("clip_a", n_bkt).alias("b"))
                .distinct()
                .collect()
            )
            store = FP_STORE.read(spark, state_dir, keeper_buckets)
            if store is not None:
                bcnt = toks.groupBy("clip_id").agg(
                    F.count(F.lit(1)).alias("n_tok_b")
                ).withColumnRenamed("clip_id", "clip_b")
                # the floor filter joins only SLIM columns (counts) so
                # noise candidates die before any ~360 B fingerprint
                # array is fetched from the store or shipped through a
                # shuffle — the whole point of the count prune
                a_slim = store.select(
                    F.col("clip_id").alias("clip_a"), F.col("n_tok").alias("n_tok_a")
                )
                pruned = (
                    cand.join(a_slim, "clip_a")
                    .join(bcnt, "clip_b")
                    .where(
                        F.col("n_shared")
                        >= F.least(
                            F.lit(MIN_SHARED_TOKENS),
                            F.col("n_tok_a"),
                            F.col("n_tok_b"),
                        )
                    )
                    .select("clip_a", "clip_b")
                )
                a_fp = store.select(
                    F.col("clip_id").alias("clip_a"),
                    F.col("fp").alias("fp_a"),
                    F.col("n_subfp").alias("n_a"),
                    "reg_batch",
                )
                b = fps.select(
                    F.col("clip_id").alias("clip_b"),
                    F.col("fp").alias("fp_b"),
                    F.col("n_subfp").alias("n_b"),
                )
                verified = with_ber(
                    pruned.join(a_fp, "clip_a").join(b, "clip_b"), CONTENT_MAX_BER
                )
                # earliest registry match wins — FIRST-SEEN-BATCH, tie-broken
                # by min keeper id (min over (reg_batch, clip_a); a bare
                # min(clip_a) would be lexicographic across batches, which is
                # first-seen only when ids happen to sort by arrival)
                cross = verified.groupBy(F.col("clip_b").alias("clip_id")).agg(
                    F.min(F.struct("reg_batch", "clip_a"))["clip_a"].alias(
                        "content_keeper_id"
                    )
                )

        # --- within the batch, then the verdicts: the batch post-pass's
        # core with the registry matches above (toks passed through: the
        # same capped stream as the probe)
        out = content_verdicts(keys, fps, toks, registry=cross)

        # Materialize BEFORE the registration block: the registration
        # derives keepers/ktoks/kfps from this frame (two table writes,
        # the returned frame), and its appends land in the very
        # fp_tokens/fp_store paths the unpersisted plan would re-read —
        # correctness must not hinge on the file-listing snapshot racing
        # the self-append. The persist freezes the probe-join results
        # first. The count gates registration: a batch without a
        # fingerprinted clip appends nothing (commit_batch takes no
        # zero-row append).
        rows = out.persist()
        appends = []
        if rows.count():
            # register the batch's NEW keepers: not a dup of anything.
            # ktoks filters the already-capped token stream, so hub
            # tokens never enter the registry's posting lists
            keepers = rows.where(~F.col("is_content_dup")).select("clip_id")
            ktoks = toks.join(keepers, "clip_id", "left_semi")
            # n_tok: the keeper's GLOBAL distinct-token count, stored so
            # later batches can apply the adaptive candidate floor
            # (least(MIN, n_tok_keeper, n_tok_probe)) over pruned bucket
            # reads; left join keeps token-less keepers (never
            # token-matchable, n_tok null → treated as ≥ MIN)
            ktok_cnt = ktoks.groupBy("clip_id").agg(F.count(F.lit(1)).alias("n_tok"))
            kfps = (
                fps.join(keepers, "clip_id", "left_semi")
                .select("clip_id", "n_subfp", "fp")
                .join(ktok_cnt, "clip_id", "left")
                .withColumn("reg_batch", F.lit(batch_id))
            )
            appends = [(FP_TOKENS, ktoks), (FP_STORE, kfps)]
        commit_batch(spark, state_dir, "fp_batches", batch_id, n_bkt, appends)
        return rows
    finally:
        for frame in owned:
            frame.unpersist()
