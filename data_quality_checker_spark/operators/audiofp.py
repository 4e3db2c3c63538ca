"""Content-level audio fingerprinting + near-duplicate pairing.

The flagship pipeline's dedup tier (operators/dedup.py) is BYTE-level:
SHA-1 over the encoded payload, which a 1-sample trim, a gain change, a
resample, or a codec transcode all defeat. A 100 TB speech-training
corpus needs CONTENT-level dedup on top of it — the audio analog of the
text tier's MinHash-LSH near-dup stack (operators/simdedup.py).

Design: the Philips robust-hash family (Haitsma & Kalker, "A Highly
Robust Audio Fingerprinting System", ISMIR 2002 — public):

  1. normalize every clip to FP_SR (the corpus resampler spec,
     operators/audio.resample_linear_i16);
  2. Hann-windowed frames of FP_FRAME samples every FP_HOP;
  3. per-frame energies in FP_N_BANDS log-spaced spectral bands
     (FP_BAND_BINS pins the rfft bin edges as a SPEC constant);
  4. one FP_N_BITS-bit sub-fingerprint per frame transition: bit b is
     the sign of the time-derivative of the band-b energy difference —
     sign(ΔE_b − ΔE_{b+1} of the previous frame). Signs survive gain
     scaling exactly (energies scale by g², differences keep sign) and
     resampling approximately (bands live at 300–2000 Hz, far below the
     8 kHz whitelist Nyquist).

Near-dup search then mirrors the text LSH shape, Spark-first:

  * candidate generation: exact equi-join on 64-bit TOKENS (TOKEN_LEN
    consecutive sub-fingerprints packed into one long — the Philips
    lookup-table trick, reshaped as a shuffle-on-token join). Token
    construction is pure Catalyst (transform/sequence over the
    fingerprint array — no Python);
  * verification: per candidate pair, bit-error-rate over the aligned
    common prefix via zip_with + bit_count + aggregate (whole-stage
    codegen; the fingerprint arrays are ~90 ints per clip, hundreds of
    bytes — orders of magnitude lighter than shipping audio).

Scale shape: fingerprinting is MAP-ONLY (one Arrow pass, no shuffle);
pairing shuffles (clip_id, token) pairs — tens of bytes per token, one
token per sub-fingerprint hop (16 ms of audio). Dup cliques fan out
O(d²) candidate pairs exactly like the text LSH tier; the answer for a
dup-heavy corpus is the same as there: exact dedup first (the SHA-1
tier), then near-dup the representatives.

Cross-engine exactness: every float op in the sub-fingerprint spec is a
fixed numpy primitive on bit-identical float64 inputs (np.hanning,
np.fft.rfft, elementwise re²+im², np.add.reduceat segment sums), so two
independent implementations (this module's vectorized one; the per-row
eager one in oracle/audio_oracle.py) produce identical bits and the
driver's DuckDB hash-compare is stable.

Reference analog: duplicate detection, src/core/validator.py:161-178
(pandas .duplicated over rows) — generalized here to binary payloads
under content-preserving transforms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import get_udfs
from ..pipeline import hashed_frame

# ---------------------------------------------------------------------------
# Spec constants (oracle/audio_oracle.py imports these — they ARE the
# semantics under test, same policy as FRAME_MS / SILENCE_DBFS)

FP_SR = 16_000          # fingerprints are computed at the corpus target rate
FP_FRAME = 1024         # 64 ms analysis window at 16 kHz
# 16 ms hop (87.5% overlap). Philips derives robustness from HIGH frame
# overlap: consecutive sub-fingerprints are strongly correlated, so the
# bit errors a content-preserving transform introduces cluster in weak
# frames and stable token windows survive. Measured on in-band content
# stored at half rate (BER≈0.05): hop=512 missed the candidate join for
# 2 of 10 clips (zero shared exact tokens); hop=256 missed none.
FP_HOP = 256
FP_N_BANDS = 17         # spectral bands → FP_N_BITS adjacent differences
FP_N_BITS = FP_N_BANDS - 1
FP_FMIN_HZ = 300.0      # Philips band range: robust to playback chains
FP_FMAX_HZ = 2000.0     # and far below the 8 kHz whitelist Nyquist

# rfft bin edges for the FP_N_BANDS log-spaced bands, pinned as integers
# so both engines share the exact segmentation (band b = bins
# [FP_BAND_BINS[b], FP_BAND_BINS[b+1]) of the FP_FRAME-point rfft).
FP_BAND_BINS: tuple[int, ...] = tuple(
    int(round(f * FP_FRAME / FP_SR))
    for f in np.geomspace(FP_FMIN_HZ, FP_FMAX_HZ, FP_N_BANDS + 1)
)
assert all(a < b for a, b in zip(FP_BAND_BINS, FP_BAND_BINS[1:]))

TOKEN_LEN = 4           # sub-fingerprints per 64-bit candidate token

# bumped on ANY change to the constants above or the sub-fingerprint /
# token / pairing spec — expected-output fixture caches embed it
# (queries.py), so a spec change orphans stale /tmp fixtures instead of
# poisoning them. v3: candidate pairs require ≥MIN_SHARED_TOKENS shared
# tokens (was: any one). v4: the floor is adaptive —
# least(MIN_SHARED_TOKENS, tokens(a), tokens(b)) — so a sub-150 ms clip
# that can only EVER produce one token is not silently exempted from
# content dedup (the v3 cliff). v5: the hub-token document-frequency cap
# is ON by default ("auto": max(AUTO_TOKEN_DF_FLOOR, AUTO_TOKEN_DF_MULT ×
# ceil(mean df)) over DISTINCT fingerprint values), mirrored in the eager
# labeler; per-clip token sets are deduplicated via array_distinct
# instead of a (clip_id, token) shuffle.
FP_SPEC_VERSION = 5


def clip_subfingerprints(x16: np.ndarray) -> np.ndarray:
    """Sub-fingerprint sequence (int32, each FP_N_BITS bits; bit 0 =
    lowest band pair) for ONE clip already at FP_SR. Vectorized across
    frames; the oracle recomputes the same spec frame-by-frame."""
    n = len(x16)
    if n < FP_FRAME + FP_HOP:  # need ≥2 frames for one transition
        return np.zeros(0, dtype=np.int32)
    n_frames = (n - FP_FRAME) // FP_HOP + 1
    idx = np.arange(FP_FRAME)[None, :] + (np.arange(n_frames) * FP_HOP)[:, None]
    fr = x16[idx].astype(np.float64) * np.hanning(FP_FRAME)[None, :]
    X = np.fft.rfft(fr, axis=1)
    p = X.real * X.real + X.imag * X.imag
    # np.add.reduceat: sequential segment sums — the pinned spec primitive
    # (slice .sum() would use pairwise summation and can differ in the
    # last ulp, flipping boundary bits between engines)
    E = np.add.reduceat(p, np.array(FP_BAND_BINS), axis=1)[:, :FP_N_BANDS]
    D = E[:, :-1] - E[:, 1:]            # adjacent-band energy differences
    dd = D[1:] - D[:-1]                 # their time derivative
    bits = (dd > 0.0).astype(np.int64)
    weights = (1 << np.arange(FP_N_BITS, dtype=np.int64))[None, :]
    return (bits * weights).sum(axis=1).astype(np.int32)


def audio_fingerprints(clips: DataFrame) -> DataFrame:
    """→ (clip_id, n_subfp, fp: array<int>): the robust content
    fingerprint per clip. One map-only Arrow-batched scan (decode +
    resample + FFT inside the batch), no shuffle; undecodable clips keep
    a null row. Clips shorter than FP_FRAME+FP_HOP samples at FP_SR
    (<96 ms) get an empty fingerprint — sub-second exact dups are
    already covered by the SHA tier. The UDF is the stage graph's
    ``audio_stats_fp`` (functions/udfs.py), so the standalone scan and
    the content-dedup tick compute the bits with one implementation."""
    c = get_udfs()["audio_stats_fp"](F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    return clips.select("clip_id", c.alias("_c")).select(
        "clip_id", "_c.n_subfp", "_c.fp"
    )


def payload_reps(hashed: DataFrame) -> DataFrame:
    """→ (clip_id, rep_id): every row of a (clip_id, sha, codec, sr_hz)
    frame (``pipeline.hashed_frame``, the stage graph's cache) mapped to
    the representative (min clip_id) of its distinct (sha, codec, sr_hz)
    decode key — the decode-once-per-distinct-payload discipline's key
    map. A slim
    self-join; the payload never shuffles. Null key components group
    null-safely (matching groupBy semantics), so byte-identical exact
    duplicates always share one representative."""
    reps = (
        hashed.groupBy("sha", "codec", "sr_hz")
        .agg(F.min("clip_id").alias("rep_id"))
        .select(
            F.col("sha").alias("_sha2"),
            F.col("codec").alias("_codec2"),
            F.col("sr_hz").alias("_sr2"),
            "rep_id",
        )
    )
    return hashed.join(
        reps,
        F.col("sha").eqNullSafe(F.col("_sha2"))
        & F.col("codec").eqNullSafe(F.col("_codec2"))
        & F.col("sr_hz").eqNullSafe(F.col("_sr2")),
    ).select("clip_id", "rep_id")


def audio_fingerprints_dedup(clips: DataFrame) -> DataFrame:
    """→ (clip_id, rep_id, n_subfp, fp): ``audio_fingerprints`` plus each
    clip's payload representative, with the decode + resample + FFT run
    ONCE per distinct (sha1(bytes), codec, sr_hz) payload key — the
    decode-once-per-distinct-payload discipline of
    pipeline.audio_stats_table, applied to the fingerprint scan. The
    fingerprint is a pure function of exactly that key, so byte-identical
    payloads share one by construction; on dup-heavy corpora (the regime
    content dedup exists for) the expensive scan shrinks by the dup
    factor and the per-clip frame is recovered with a slim equi-join
    (~360 B fp rows, never the payload). This is the one rep-level frame
    that fingerprint_table writes and the fps=None paths of
    fingerprint_neardup_pairs / content_dedup_decisions build from.

    Plan shape: payload_reps over pipeline.hashed_frame builds the
    (clip → rep) key map (one JVM-only sha1 pass, null-safe key grouping
    — the decode UDF tolerates null codec/sr_hz, WAV headers carry the
    rate); representative rows are selected with a left-semi join
    (scan-side filter, payload never shuffles) and fingerprinted
    map-only; the rep fingerprints join back over the slim map on
    rep_id. Null-payload and undecodable groups inherit their rep's null
    fingerprint row, exactly like the plain scan. The key map appears in
    BOTH the rep-selection and join-back subtrees, so it is
    local-checkpointed here (one eager sha pass; no cache-manager entry
    to release — the blocks go with the returned frame)."""
    keys = payload_reps(hashed_frame(clips)).localCheckpoint(eager=True)
    rep_rows = clips.join(
        keys.select(F.col("rep_id").alias("clip_id")).distinct(),
        "clip_id",
        "left_semi",
    )
    rep_fps = audio_fingerprints(rep_rows).withColumnRenamed("clip_id", "rep_id")
    return keys.join(rep_fps, "rep_id", "left").select(
        "clip_id", "rep_id", "n_subfp", "fp"
    )


def _token_expr() -> F.Column:
    """Catalyst-only token construction: every window of TOKEN_LEN
    consecutive sub-fingerprints packed into one BIGINT
    (16 bits each). DEGENERATE windows — all TOKEN_LEN sub-fingerprints
    identical, the signature of digital silence or constant tone — are
    dropped: they carry no discriminative content and at corpus scale one
    silent stretch would otherwise bucket millions of clips onto a single
    hot token. element_at is 1-based."""
    same = " AND ".join(
        f"element_at(fp, p + {q}) = element_at(fp, p + {q + 1})"
        for q in range(1, TOKEN_LEN)
    )
    pack = " + ".join(
        f"shiftleft(cast(element_at(fp, p + {q + 1}) AS bigint), {16 * (TOKEN_LEN - 1 - q)})"
        for q in range(TOKEN_LEN)
    )
    return F.expr(
        f"""
        transform(
          filter(
            sequence(0, size(fp) - {TOKEN_LEN}, 1),
            p -> NOT ({same})
          ),
          p -> {pack}
        )
        """
    )


MIN_SHARED_TOKENS = 2

# "auto" hub-token cap derivation (spec v5): cap = clamp(FLOOR,
# MULT × ceil(mean token document frequency), CEILING), where df counts
# DISTINCT FINGERPRINT VALUES containing the token — not clips and not
# payload reps, so the per-clip operator path, the rep-level content
# path, and the eager labeler all derive the IDENTICAL integer from the
# same corpus (byte-identical and content-identical payloads collapse to
# one df unit in every formulation). The FLOOR keeps small corpora
# exactly cap-free (every fixture/test sf has max df ≪ 256, so the
# default changes nothing there); the MULT×mean term scales the cap with
# genuine corpus-wide token popularity; the CEILING bounds the worst
# single-reducer fan-out at ~5·10^9 pair rows per token even on corpora
# whose mean df is itself pathological.
AUTO_TOKEN_DF_FLOOR = 256
AUTO_TOKEN_DF_MULT = 32
AUTO_TOKEN_DF_CEILING = 100_000


def _token_df(fps: DataFrame) -> DataFrame:
    """→ (token, df): each token's document frequency over DISTINCT
    fingerprint values (the spec-v5 df basis above)."""
    return (
        fps.where(F.col("n_subfp") >= TOKEN_LEN)
        .select("fp")
        .distinct()
        .select(F.explode(F.array_distinct(_token_expr())).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _token_cap(token_df: DataFrame) -> DataFrame:
    """One-row (_cap) aggregate over a ``_token_df`` frame: the "auto"
    cap, clamp(FLOOR, MULT × ceil(postings / distinct tokens), CEILING).
    Pure integer arithmetic — ceil-mean via `div` (no double division,
    exact past 2^53 postings) — so the eager labeler's
    oracle_token_cap derives the same number from its dict index."""
    return token_df.agg(
        F.sum("df").alias("n_post"), F.count(F.lit(1)).alias("n_tok")
    ).select(
        F.when(  # empty corpus: ANSI div-by-zero guard (lazily evaluated)
            F.col("n_tok") > 0,
            F.least(
                F.lit(AUTO_TOKEN_DF_CEILING).cast("long"),
                F.greatest(
                    F.lit(AUTO_TOKEN_DF_FLOOR).cast("long"),
                    F.lit(AUTO_TOKEN_DF_MULT)
                    * F.expr("(n_post + n_tok - 1) div n_tok"),
                ),
            ),
        )
        .otherwise(F.lit(AUTO_TOKEN_DF_FLOOR).cast("long"))
        .alias("_cap")
    )


def derive_max_token_df(fps: DataFrame) -> int:
    """Corpus-derived hub-token document-frequency cap (the spec-v5
    "auto" mode) as a driver-side integer: one job collecting the same
    ``_token_cap`` aggregate that fingerprint_tokens joins in-plan."""
    return int(_token_cap(_token_df(fps)).first()["_cap"])


def fingerprint_tokens(
    fps: DataFrame,
    max_token_df: int | str | None = "auto",
) -> DataFrame:
    """→ (clip_id, token): each fingerprint row's DISTINCT tokens
    (array_distinct before the explode — per-row dedup inside Catalyst,
    no shuffle), with stop-tokens above the document-frequency cap
    dropped. ``max_token_df="auto"`` (the default) derives the cap from
    corpus stats (``_token_cap``); pass an int to pin it or None to opt
    out entirely. The df filter's basis is DISTINCT FINGERPRINT VALUES
    (see ``_token_df``) so the same tokens are dropped whether the frame
    holds clips or payload reps."""
    toks = fps.where(F.col("n_subfp") >= TOKEN_LEN).select(
        "clip_id",
        F.explode(F.array_distinct(_token_expr())).alias("token"),
    )
    if max_token_df is None:
        return toks
    df_tbl = _token_df(fps)
    if max_token_df == "auto":
        # The cap is derived INSIDE the same plan (no eager job): a
        # 1-row broadcast join (plans as BroadcastNestedLoopJoin with the
        # df<=_cap bound as its condition — LINEAR, build side is one
        # row; the same allow-listed shape as the registry's 1-row scalar
        # crossJoins). AQE reuses the df_tbl exchange between this branch
        # and the cap aggregate, so the distinct-fp token stream is
        # scanned once.
        rare = df_tbl.join(
            F.broadcast(_token_cap(df_tbl)), F.col("df") <= F.col("_cap")
        ).select("token")
    else:
        rare = df_tbl.where(F.col("df") <= max_token_df).select("token")
    return toks.join(rare, "token")


def fingerprint_candidate_pairs(
    fps: DataFrame,
    max_token_df: int | str | None = "auto",
    toks: DataFrame | None = None,
) -> DataFrame:
    """→ (clip_a, clip_b, n_shared) candidate pairs: clips sharing at
    least MIN_SHARED_TOKENS distinct tokens. The join key is the
    token VALUE itself — an exact equi-join (shuffle on token), never a
    similarity join; this is the Philips lookup table reshaped for
    Spark.

    The shared-token count is a PRE-AGGREGATION on the slim
    (clip_a, clip_b) stream — the same shuffle the old distinct() paid —
    and pruning below MIN_SHARED_TOKENS (the Philips lookup
    discipline: genuine copies match at many aligned positions, noise
    collisions at one) shrinks the downstream fingerprint-array verify
    join by the noise-pair fraction BEFORE any ~90-int array ships.
    Measured on the synthetic corpora every true pair shares ≥18 tokens
    and no noise pair exists, so 2 is conservative; a real 10^12-clip
    corpus is where the prune earns its keep. The floor is ADAPTIVE
    (spec v4): a pair's threshold is least(MIN_SHARED_TOKENS, tokens(a),
    tokens(b)) — a ~130 ms clip yields exactly one token, and a fixed
    floor of 2 would silently exempt its transcoded copies from content
    dedup (same cliff for mostly-silent clips whose degenerate windows
    `_token_expr` drops).

    ``max_token_df`` — the hub-skew guard for web-scale corpora: a token
    whose posting list holds d clips emits d·(d-1)/2 pair rows from a
    single join key, so ONE pathological token shared by a million clips
    (a ringtone, a jingle, a codec artifact — the degenerate all-equal
    silence windows are already dropped in ``_token_expr``) would emit
    ~5·10^11 rows through one reducer. Capping token document frequency
    drops these stop-tokens BEFORE the self-join (one extra count agg
    over the slim token stream); genuine copies still match on their
    many rare tokens — the inverse-document-frequency argument of the
    published Philips lookup discipline. ON by default since spec v5
    ("auto": corpus-derived, see ``_token_cap`` — the FLOOR keeps
    every token of a small corpus, so test/sf-scale semantics are
    unchanged); ``None`` is the explicit opt-out. The semantic tradeoff
    of ANY df cap: content popular enough that its own distinct variants
    exceed the cap stops pairing through those tokens — exact dedup
    first (module docstring) is the answer there, not an uncapped
    join. ``toks`` — pass a precomputed fingerprint_tokens
    frame to share it across consumers (the streaming tier probes the
    registry with the same stream)."""
    if toks is None:
        toks = fingerprint_tokens(fps, max_token_df)
    # per-clip distinct-token counts for the adaptive floor (slim agg;
    # computed AFTER the df cap so a stop-token-only clip keeps floor
    # semantics over its surviving tokens)
    cnt = toks.groupBy("clip_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a = toks.select(F.col("clip_id").alias("clip_a"), "token")
    b = toks.select(F.col("clip_id").alias("clip_b"), "token")
    ca = cnt.select(F.col("clip_id").alias("clip_a"), F.col("n_tok").alias("n_tok_a"))
    cb = cnt.select(F.col("clip_id").alias("clip_b"), F.col("n_tok").alias("n_tok_b"))
    return (
        a.join(b, "token")
        .where(F.col("clip_a") < F.col("clip_b"))
        .groupBy("clip_a", "clip_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(ca, "clip_a")
        .join(cb, "clip_b")
        .where(
            F.col("n_shared")
            >= F.least(F.lit(MIN_SHARED_TOKENS), F.col("n_tok_a"), F.col("n_tok_b"))
        )
        .select("clip_a", "clip_b", "n_shared")
    )


def fingerprint_table(clips: DataFrame, path: str) -> None:
    """Materialize the fingerprints as a parquet side-table of
    (clip_id, rep_id, n_subfp, fp) rows — the build-once/probe-many
    shape (same discipline as the IVF index build in operators/ann.py).
    Fingerprinting is the expensive stage (decode + resample + FFT over
    every payload byte); on a 100 TB corpus it runs ONCE per ingest and
    every downstream consumer (near-dup pairing, clustering,
    content-dedup decisions, streaming registry seeding) reads the
    ~90-int rows instead of re-decoding audio. The build is
    audio_fingerprints_dedup — one decode per DISTINCT payload, which
    pays at ingest, when the corpus still carries its duplicates — and
    ``rep_id`` gives content_dedup_decisions its exact-dup group map
    without re-hashing the payload. Undecodable clips (null fp) are
    left out. Write is plain parquet; callers own tmp+rename atomicity
    (see queries._fps_table)."""
    audio_fingerprints_dedup(clips).where(F.col("fp").isNotNull()).write.mode(
        "overwrite"
    ).parquet(path)


def _verified_pairs(cand: DataFrame, fps: DataFrame, max_ber: float) -> DataFrame:
    """Candidate (clip_a, clip_b) pairs with both sides' fingerprints
    joined from ``fps`` (clip_id, n_subfp, fp), BER-verified by
    ``with_ber``."""

    def side(s: str) -> DataFrame:
        return fps.select(
            F.col("clip_id").alias(f"clip_{s}"),
            F.col("fp").alias(f"fp_{s}"),
            F.col("n_subfp").alias(f"n_{s}"),
        )

    return with_ber(cand.join(side("a"), "clip_a").join(side("b"), "clip_b"), max_ber)


def fingerprint_neardup_pairs(
    clips: DataFrame,
    max_ber: float = 0.25,
    fps: DataFrame | None = None,
    max_token_df: int | str | None = "auto",
) -> DataFrame:
    """→ (clip_a, clip_b, n_overlap, ber): content near-duplicate pairs —
    candidates by ≥MIN_SHARED_TOKENS shared tokens, verified by
    bit-error-rate over the aligned common prefix (full-clip transforms
    keep offset 0; Philips' published decision threshold for a 3 s block
    is BER < 0.35, we default stricter). All verification math is
    whole-stage codegen: zip_with + bit_count + aggregate over ~90-int
    arrays. Hub tokens are dropped by the corpus-derived df cap by
    default (spec v5; ``max_token_df=None`` opts out).

    ``fps`` — a precomputed fingerprint frame/table (fingerprint_table).
    Pass it whenever fingerprints already exist: the decode+FFT scan is
    ~75% of this operator's wall-time and is pure recomputation when a
    fingerprint table is on disk. Without it the audio_fingerprints_dedup
    frame is built and local-checkpointed here (three consumers — token
    side a, token side b, verify join — would otherwise re-run the scan);
    no cached frame is left behind."""
    if fps is None:
        fps = (
            audio_fingerprints_dedup(clips)
            .where(F.col("fp").isNotNull())
            .localCheckpoint(eager=True)
        )
    cand = fingerprint_candidate_pairs(fps, max_token_df)
    return _verified_pairs(cand, fps, max_ber).select(
        "clip_a", "clip_b", "n_overlap", "ber"
    )


def with_ber(pairs_with_fps: DataFrame, max_ber: float) -> DataFrame:
    """Append (n_overlap, ber) to a frame carrying (fp_a, n_a, fp_b,
    n_b) and keep rows with ber ≤ max_ber — the shared verification
    stage of the near-dup pairing above, the content verdicts below and
    the streaming cross-batch probe (streaming/contentfp.py). All
    whole-stage codegen.

    Slice BOTH arrays to the common prefix before zip_with: zip_with
    pads the shorter array with nulls, so on unequal-length pairs
    (trimmed/resampled variants differing by a frame) the XOR would
    yield a NULL ber and the WHERE would silently drop a true near-dup
    the prefix-BER definition keeps."""
    bits_diff = F.expr(
        "aggregate(zip_with("
        "slice(fp_a, 1, least(n_a, n_b)), slice(fp_b, 1, least(n_a, n_b)), "
        "(x, y) -> bit_count(x ^ y)), "
        "0L, (acc, v) -> acc + v)"
    )
    return (
        pairs_with_fps.withColumn("n_overlap", F.least("n_a", "n_b"))
        # no rounding: one IEEE float64 division of two exact ints is
        # bit-identical across engines (round() half-modes are not)
        .withColumn(
            "ber", bits_diff / (F.lit(float(FP_N_BITS)) * F.col("n_overlap"))
        )
        .where(F.col("ber") <= max_ber)
    )


CONTENT_DUP_RULE = "content_duplicate"
CONTENT_DUP_SEVERITY = "medium"  # same tier as the byte-level duplicate rule
# BER bound of a verified CONTENT match — batch post-pass and streaming
# tier alike (stricter than the pair operator's 0.25 default).
CONTENT_MAX_BER = 0.1


def content_verdicts(
    keys: DataFrame,
    fps: DataFrame,
    toks: DataFrame,
    registry: DataFrame | None = None,
) -> DataFrame:
    """→ (clip_id, content_keeper_id, is_content_dup): the one
    content-dedup verdict core of the batch post-pass
    (content_dedup_decisions) and the streaming tier
    (streaming/contentfp.process_content_increment).

    Runs at REPRESENTATIVE level: ``fps`` holds one (clip_id, n_subfp,
    fp) row per distinct payload (clip_id = the rep), ``toks`` is its
    fingerprint_tokens stream (the df cap applied once, shared by pairing
    and the gate below), and ``keys`` the (clip_id, rep_id) map of every
    clip. Within-set pairs from ``toks`` → BER verify (CONTENT_MAX_BER) →
    connected components (near-duplication is transitive: A≈B≈C must not
    drop the whole clique). A rep's keeper is, in order: its
    ``registry`` match (a (clip_id, content_keeper_id) frame of reps
    matched to earlier content — the streaming registry; None in batch),
    its local cluster keeper (min clip_id), itself.

    The verdicts then expand over each exact-dup group: a member's keeper
    is its rep's keeper, so exact dups of a keeper are content dups OF
    that keeper — the per-clip formulation's BER-0 edges, without d(d-1)/2
    intra-group pair rows (the group's min clip_id IS its rep, and the
    component min over reps IS the min over member clips). Only reps
    with ≥1 surviving token expand: a zero-token rep (all-degenerate
    silence windows, every token df-capped) can never pair per-clip, so
    its group's clips are absent from the output (callers left-join)."""
    from .simdedup import neardup_components

    pairs = _verified_pairs(
        fingerprint_candidate_pairs(fps, toks=toks), fps, CONTENT_MAX_BER
    )
    local = neardup_components(
        pairs.select(F.col("clip_a").alias("doc_a"), F.col("clip_b").alias("doc_b"))
    ).select(F.col("doc_id").alias("rep_id"), F.col("cluster_id").alias("_local"))
    reps = (
        toks.select(F.col("clip_id").alias("rep_id"))
        .distinct()
        .join(local, "rep_id", "left")
    )
    keeper = [F.col("_local"), F.col("rep_id")]
    if registry is not None:
        reps = reps.join(
            registry.select(
                F.col("clip_id").alias("rep_id"),
                F.col("content_keeper_id").alias("_registered"),
            ),
            "rep_id",
            "left",
        )
        keeper.insert(0, F.col("_registered"))
    return (
        keys.join(
            reps.select("rep_id", F.coalesce(*keeper).alias("content_keeper_id")),
            "rep_id",
        )
        .select("clip_id", "content_keeper_id")
        .withColumn("is_content_dup", F.col("content_keeper_id") != F.col("clip_id"))
    )


def apply_content_verdicts(decisions: DataFrame, verdicts: DataFrame) -> DataFrame:
    """Fold a content_verdicts frame into a decisions frame: every
    flagged clip gets ``keep = false`` and CONTENT_DUP_RULE appended to
    ``rules_fired``; every other row and column passes through, in
    order."""
    flagged = verdicts.where(F.col("is_content_dup")).select(
        "clip_id", F.lit(True).alias("_content_dup")
    )
    dup = F.coalesce(F.col("_content_dup"), F.lit(False))
    folded = {
        "keep": F.col("keep") & ~dup,
        "rules_fired": F.when(
            dup, F.array_append(F.col("rules_fired"), F.lit(CONTENT_DUP_RULE))
        ).otherwise(F.col("rules_fired")),
    }
    return decisions.join(flagged, "clip_id", "left").select(
        *[folded.get(c, F.col(c)).alias(c) for c in decisions.columns]
    )


def content_dedup_decisions(
    clips: DataFrame,
    decisions: DataFrame,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Optional pipeline post-pass: drop content-level near-duplicates
    the byte-SHA dedup tier cannot see (gain-scaled, transcoded,
    resampled, lightly trimmed copies). It is the streaming content
    tier's within-batch logic with an empty registry: content_verdicts,
    then apply_content_verdicts.

    Every content-cluster member except the keeper (min clip_id, the
    same keep-first-min-id convention as every other dedup tier here)
    gets ``keep = false`` and ``content_duplicate`` appended to
    ``rules_fired``. All other decision rows and columns pass through
    untouched, so the post-pass composes with run/job.py,
    findings_from_decisions (pass
    ``extra_severities={CONTENT_DUP_RULE: CONTENT_DUP_SEVERITY}``) and
    the summary/report sinks.

    Exact byte-duplicates are content-duplicates too (BER 0), so a clip
    already dropped by the SHA tier may additionally carry this rule —
    truthful, and the keeper conventions coincide (min clip_id in both
    tiers), so no keeper is ever dropped by the other tier.

    ``fps`` — a (clip_id, rep_id, n_subfp, fp) frame, as
    fingerprint_table writes it: with the ingest table the whole
    post-pass runs with ZERO payload reads. Omitted, the same frame is
    built from ``clips`` (audio_fingerprints_dedup) and
    local-checkpointed, so no cached frame is left behind. The rep rows
    (clip_id == rep_id) feed the verdict core; one fingerprint_tokens
    stream with the in-plan "auto" df cap serves both the pairing and
    the expansion gate."""
    if fps is None:
        fps = (
            audio_fingerprints_dedup(clips)
            .where(F.col("fp").isNotNull())
            .localCheckpoint(eager=True)
        )
    rep_fps = fps.where(F.col("clip_id") == F.col("rep_id")).select(
        "clip_id", "n_subfp", "fp"
    )
    verdicts = content_verdicts(
        fps.select("clip_id", "rep_id"), rep_fps, fingerprint_tokens(rep_fps)
    )
    return apply_content_verdicts(decisions, verdicts)
