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
2. WITHIN-batch near-dups: token pairing + BER verify + connected
   components (the batch operators, reused verbatim);
3. ACROSS batches: batch tokens ⋈ pruned ``fp_tokens`` buckets →
   candidate (batch clip, registered keeper) pairs sharing ≥
   least(MIN_SHARED_TOKENS, tokens(clip), tokens(keeper)) tokens (the
   spec-v4 adaptive floor; keeper token counts stored as ``n_tok`` at
   registration) → fetch the keepers' fingerprints from
   pruned ``fp_store`` buckets → shared BER verify (audiofp.with_ber) →
   a batch clip matching ANY registered keeper is a content duplicate
   of the EARLIEST registry match: min over (reg_batch, keeper id), so
   first-seen-BATCH genuinely wins (``fp_store`` records the
   registering batch), mirroring the SHA registry;
4. register the batch's surviving cluster keepers (not already matched
   to the registry) into both tables, gated on the same O(1) per-batch
   marker-file idempotence protocol as the SHA registry, with the same
   generic per-bucket compaction (incremental.compact_table_buckets) so
   neither table degrades into a small-file storm.

Scale shape: every cross-table touch is an equi-join on a
hash-partitioned key with the partition list pruned to the batch's own
keys; fingerprints (hundreds of bytes) ship only for verified
candidates; audio bytes never reach this module.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audiofp import (
    MIN_SHARED_TOKENS,
    TOKEN_LEN,
    _token_expr,
    fingerprint_candidate_pairs,
    fingerprint_tokens,
    payload_reps,
    with_ber,
)
from ..operators.simdedup import neardup_components
from ..pipeline import StageGraph
from .incremental import (
    MAX_BUCKET_FILES,  # noqa: F401  (re-exported for tests/docs)
    compact_table_buckets,
    pin_bucket_count,
    recover_table_compaction,
)

# Upper bound; the effective fan-out is pinned per state_dir at first
# tick (incremental.pin_bucket_count) so small streams don't pay a
# 256-dir append per tick — see the N_SHA_BUCKETS comment.
N_FP_BUCKETS = 256

# BER bound of a verified content match (the batch tier's default).
MAX_BER = 0.1


def _tokens_path(state_dir: str) -> str:
    return os.path.join(state_dir, "fp_tokens")


def _store_path(state_dir: str) -> str:
    return os.path.join(state_dir, "fp_store")


def _marker(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, "fp_batches", f"{batch_id}.done")


def _tbkt(col, n_buckets: int | None = None):
    n = N_FP_BUCKETS if n_buckets is None else n_buckets
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def _cbkt(col, n_buckets: int | None = None):
    n = N_FP_BUCKETS if n_buckets is None else n_buckets
    return F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(n)).cast(
        "int"
    )


def _read_bucketed(
    spark: SparkSession, path: str, part: str, buckets: list[int]
) -> DataFrame | None:
    if not buckets:
        return None
    # existence probe, not try/except: a parquet read of a missing path
    # logs a full FileNotFoundException stack at WARN (see
    # incremental.read_registry) — first batch always lands here
    if not os.path.exists(path):
        return None
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    return df.where(F.col(part).isin(*buckets))


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
    pair them (callers must left-join, as process_and_write does).
    Idempotent per batch_id.

    ``graph`` — the tick's pipeline.stage_graph over the batch, built
    with ``with_fingerprints=True``: its cached ``hashed`` frame gives
    the (clip_id, rep_id) key map and its ``stats`` frame the rep-level
    fingerprints, so the tier adds no sha pass and no decode of its own.
    Cache ``graph.stats`` before the call (process_and_write does): the
    probe, the within-batch pairing and the registration each read it.
    The graph's frames stay the caller's to unpersist.

    The whole tier runs at REPRESENTATIVE level (payload_reps: one rep
    per distinct (sha1, codec, sr_hz) key — the same collapse as
    content_dedup_decisions): byte-identical clips share a fingerprint
    by construction, so only reps are decoded, tokenized, probed against
    the registry and clustered; verdicts expand back over each exact-dup
    group at the end (the group's min clip_id IS its rep, so
    flag(clip) = clip_id != keeper(rep) reproduces the per-clip
    labeling, BER-0 intra-group edges included). A dup-heavy batch — the
    design regime — costs one decode per distinct payload and zero
    intra-group pair rows.

    Hub tokens are capped (spec v5): the "auto" df cap derives from THIS
    batch's distinct-fingerprint token stats (derive_max_token_df) and
    thins the batch-side token stream, which bounds BOTH the
    within-batch self-join fan-out and the registry-probe fan-out (a
    stop-token the batch side dropped never joins any registry posting
    list); registration stores only surviving tokens, so the registry
    never accumulates a hub posting list either."""
    recover_table_compaction(state_dir, "fp_tokens", "tbkt", "fptok")
    recover_table_compaction(state_dir, "fp_store", "cbkt", "fpstore")
    # effective bucket fan-out, pinned per state_dir at first tick (both
    # fp tables share it; the sha tick pinned the sha count from the
    # same batch already, so the meta file is just extended here)
    n_bkt = pin_bucket_count(
        state_dir, "n_fp_buckets", "fp_tokens", graph.n_rows, N_FP_BUCKETS
    )
    batch_seen = os.path.exists(_marker(state_dir, batch_id))

    keys = payload_reps(None, hashed=graph.hashed)
    fps = graph.stats.select(
        F.col("rep_id").alias("clip_id"), "n_subfp", "fp"
    ).where(F.col("fp").isNotNull() & (F.col("n_subfp") >= TOKEN_LEN))
    owned: list[DataFrame] = []
    try:
        # The probe, the within-batch pairing, and the registration all
        # consume THIS persisted frame, so they drop the same stop-tokens
        # by construction — "auto" passes straight through to
        # fingerprint_tokens, which derives the cap INSIDE the toks plan
        # (1-row broadcast scalar join, exchange-reused): one fewer eager
        # job per tick than the old pre-resolved derive_max_token_df.
        toks = fingerprint_tokens(fps).persist()
        owned.append(toks)

        # --- across batches: probe the token index, verify vs the store
        # (this collect is also the action that materializes the toks
        # persist — a separate toks.count() would be one more fixed-cost
        # job per tick for the same scan)
        probe_buckets = sorted(
            r["b"]
            for r in toks.select(_tbkt("token", n_bkt).alias("b"))
            .distinct()
            .collect()
        )
        reg_toks = _read_bucketed(
            spark, _tokens_path(state_dir), "tbkt", probe_buckets
        )
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
                for r in cand.select(_cbkt("clip_a", n_bkt).alias("b"))
                .distinct()
                .collect()
            )
            store = _read_bucketed(
                spark, _store_path(state_dir), "cbkt", keeper_buckets
            )
            if store is not None:
                # reg_batch: the batch that registered each keeper.
                # Registries written before the columns existed read as
                # batch -1 (unknown-but-earlier, keeps precedence) and
                # n_tok null (treated as ≥ MIN — the pre-v4 behavior).
                if "reg_batch" not in store.columns:
                    store = store.withColumn("reg_batch", F.lit(-1))
                if "n_tok" not in store.columns:
                    store = store.withColumn("n_tok", F.lit(None).cast("long"))
                bcnt = toks.groupBy("clip_id").agg(
                    F.count(F.lit(1)).alias("n_tok_b")
                ).withColumnRenamed("clip_id", "clip_b")
                # the floor filter joins only SLIM columns (counts) so
                # noise candidates die before any ~360 B fingerprint
                # array is fetched from the store or shipped through a
                # shuffle — the whole point of the count prune
                # legacy-row backfill: registries written before n_tok
                # existed reconstruct the keeper's distinct-token count
                # from its STORED fp (size of the deduped token array —
                # pre-cap, the best
                # reconstruction available), instead of assuming ≥MIN:
                # a pre-upgrade single-token keeper stays matchable by
                # multi-token probes (the v3 cliff, closed for old
                # registries too)
                a_slim = store.select(
                    F.col("clip_id").alias("clip_a"),
                    F.coalesce(
                        F.col("n_tok"),
                        F.size(F.array_distinct(_token_expr())).cast(
                            "long"
                        ),
                    ).alias("n_tok_a"),
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
                    pruned.join(a_fp, "clip_a").join(b, "clip_b"), MAX_BER
                )
                # earliest registry match wins — FIRST-SEEN-BATCH, tie-broken
                # by min keeper id (min over (reg_batch, clip_a); a bare
                # min(clip_a) would be lexicographic across batches, which is
                # first-seen only when ids happen to sort by arrival)
                cross = verified.groupBy("clip_b").agg(
                    F.min(F.struct("reg_batch", "clip_a"))["clip_a"].alias(
                        "content_keeper_id"
                    )
                )

        # --- within the batch: pairs → components (keeper = min clip_id)
        # (toks passed through: same capped stream as the probe above)
        local_pairs = fingerprint_candidate_pairs(fps, toks=toks)
        lv = with_ber(
            local_pairs.join(
                fps.select(
                    F.col("clip_id").alias("clip_a"),
                    F.col("fp").alias("fp_a"),
                    F.col("n_subfp").alias("n_a"),
                ),
                "clip_a",
            ).join(
                fps.select(
                    F.col("clip_id").alias("clip_b"),
                    F.col("fp").alias("fp_b"),
                    F.col("n_subfp").alias("n_b"),
                ),
                "clip_b",
            ),
            MAX_BER,
        ).select(F.col("clip_a").alias("doc_a"), F.col("clip_b").alias("doc_b"))
        local = neardup_components(lv).select(
            F.col("doc_id").alias("clip_id"),
            F.col("cluster_id").alias("local_keeper_id"),
        )

        # --- merge: a registry match beats local clustering (the content
        # existed before this batch); else the local cluster keeper rules
        rep_out = (
            fps.select("clip_id")
            .join(local, "clip_id", "left")
            .join(
                cross.withColumnRenamed("clip_b", "clip_id")
                if cross is not None
                else spark.createDataFrame(
                    [], "clip_id string, content_keeper_id string"
                ),
                "clip_id",
                "left",
            )
            .select(
                "clip_id",
                F.coalesce(
                    "content_keeper_id", "local_keeper_id", "clip_id"
                ).alias("content_keeper_id"),
            )
        )
        # --- expand rep verdicts over their exact-dup groups: a non-rep
        # member's keeper is its rep's keeper (which is the rep itself
        # when the rep matched nothing), so exact dups of a keeper are
        # content duplicates OF that keeper — identical to the per-clip
        # formulation's BER-0 edges. Gate on TOKEN-BEARING reps: a
        # zero-token rep (all-degenerate silence windows) can never pair
        # with anything per-clip, so its exact dups must stay unflagged
        # here too.
        toked = toks.select(F.col("clip_id").alias("rep_id")).distinct()
        out = (
            keys.join(toked, "rep_id", "left_semi")
            .join(rep_out.withColumnRenamed("clip_id", "rep_id"), "rep_id")
            .select("clip_id", "content_keeper_id")
            .withColumn(
                "is_content_dup", F.col("content_keeper_id") != F.col("clip_id")
            )
        )

        # Materialize BEFORE the registration block: the registration
        # derives keepers/ktoks/kfps from this frame ~5 times (two table
        # writes, two bucket-list collects, the returned count), and its
        # appends land in the very fp_tokens/fp_store paths the
        # unpersisted plan would re-read — correctness must not hinge on
        # the file-listing snapshot racing the self-append. The persist
        # freezes the probe-join results first.
        rows = out.persist()
        rows.count()

        if not batch_seen:
            # register the batch's NEW keepers: not a dup of anything.
            # ktoks filters the already-capped token stream, so hub
            # tokens never enter the registry's posting lists
            keepers = rows.where(~F.col("is_content_dup")).select("clip_id")
            kfps = fps.join(keepers, "clip_id", "left_semi")
            ktoks = toks.join(keepers, "clip_id", "left_semi")
            # repartition by the partition column: ONE file per touched
            # bucket per tick regardless of upstream task count. toks is
            # a persisted 8-partition frame and the keeper semi join is
            # broadcast (no shuffle), so the unrepartitioned write put 8
            # files in EVERY bucket per tick — tick 2 then tripped
            # MAX_BUCKET_FILES on all 256 buckets of both tables at once
            # (the round-5 streaming fixed-cost regression)
            def _write_tokens() -> None:
                ktoks.withColumn("tbkt", _tbkt("token", n_bkt)).repartition(
                    F.col("tbkt")
                ).write.mode("append").partitionBy(
                    "tbkt"
                ).parquet(_tokens_path(state_dir))

            def _write_store() -> None:
                # n_tok: the keeper's GLOBAL distinct-token count, stored
                # so later batches can apply the adaptive candidate floor
                # (least(MIN, n_tok_keeper, n_tok_probe)) over pruned
                # bucket reads; left join keeps token-less keepers (never
                # token-matchable, n_tok null → treated as ≥ MIN)
                ktok_cnt = ktoks.groupBy("clip_id").agg(
                    F.count(F.lit(1)).alias("n_tok")
                )
                kfps.select("clip_id", "n_subfp", "fp").join(
                    ktok_cnt, "clip_id", "left"
                ).withColumn(
                    "reg_batch", F.lit(batch_id)
                ).withColumn("cbkt", _cbkt("clip_id", n_bkt)).repartition(
                    F.col("cbkt")
                ).write.mode("append").partitionBy(
                    "cbkt"
                ).parquet(
                    _store_path(state_dir)
                )

            # The two appends target DIFFERENT tables and read only
            # persisted/broadcast inputs, so submit them from two threads:
            # each write's cost is dominated by the job-scheduling +
            # parquet task-commit floor (~1-2.5 s at the pinned 32 dirs,
            # measured), and overlapping them turns fixed-cost SUM into
            # fixed-cost MAX per tick. Exceptions propagate.
            _errs: list[BaseException] = []

            def _guard(fn):
                try:
                    fn()
                except BaseException as exc:  # noqa: BLE001 - re-raised
                    _errs.append(exc)

            threads = [
                threading.Thread(target=_guard, args=(fn,), daemon=True)
                for fn in (_write_tokens, _write_store)
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            if _errs:
                raise _errs[0]
            os.makedirs(os.path.dirname(_marker(state_dir, batch_id)), exist_ok=True)
            with open(_marker(state_dir, batch_id), "w"):
                pass
            # compaction candidates: ALL buckets, not a collect of the
            # buckets this tick touched — the over-bound check is an
            # os.listdir per existing bucket dir (microseconds), while
            # the two touched-bucket collects were one Spark job each
            # per tick. A bucket another tick pushed over the bound gets
            # compacted here too, which only tightens the file bound.
            all_buckets = list(range(n_bkt))
            compact_table_buckets(
                spark, state_dir, all_buckets, "fp_tokens", "tbkt", "fptok"
            )
            compact_table_buckets(
                spark, state_dir, all_buckets, "fp_store", "cbkt", "fpstore"
            )
        return rows
    finally:
        for frame in owned:
            frame.unpersist()
