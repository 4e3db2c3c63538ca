"""Content-level audio fingerprinting + near-duplicate pairing.

The flagship pipeline's dedup tier (operators/dedup.py) is BYTE-level:
SHA-1 over the encoded payload, which a 1-sample trim, a gain change, a
resample, or a codec transcode all defeat. A 100 TB speech-training
corpus needs CONTENT-level dedup on top of it — the audio analog of the
text tier's MinHash/SimHash near-dup stack (operators/simdedup.py).

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
O(d²) candidate pairs exactly like the text LSH tier; the same
collapsed-variant escape hatch applies
(simdedup.minhash_verified_pairs_collapsed rationale).

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
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("n_subfp", T.LongType(), True),
        T.StructField("fp", T.ArrayType(T.IntegerType()), True),
    ]
)


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


def _fp_udf():
    from pyspark.sql.functions import pandas_udf

    from .audio import _decode_iter, resample_linear_i16

    @pandas_udf(FINGERPRINT_SCHEMA)
    def fp(payload: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.DataFrame:
        rows = []
        for decoded in _decode_iter(payload, codec, sr_hz):
            if decoded is None:
                rows.append({"n_subfp": None, "fp": None})
                continue
            x, sr = decoded
            x16 = x if sr == FP_SR else resample_linear_i16(x, sr, FP_SR)
            s = clip_subfingerprints(x16)
            rows.append({"n_subfp": len(s), "fp": s.tolist()})
        df = pd.DataFrame(rows, columns=["n_subfp", "fp"])
        df["n_subfp"] = df["n_subfp"].astype("Int64")
        return df

    return fp


def audio_fingerprints(clips: DataFrame) -> DataFrame:
    """→ (clip_id, n_subfp, fp: array<int>): the robust content
    fingerprint per clip. One map-only Arrow-batched scan (decode +
    resample + FFT inside the batch), no shuffle; undecodable clips keep
    a null row. Clips shorter than FP_FRAME+FP_HOP samples at FP_SR
    (<96 ms) get an empty fingerprint — sub-second exact dups are
    already covered by the SHA tier."""
    f = _fp_udf()(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    return clips.select("clip_id", f.alias("f")).select("clip_id", "f.*")


def payload_reps(clips: DataFrame | None, hashed: DataFrame | None = None) -> DataFrame:
    """→ (clip_id, rep_id): every clip mapped to the representative
    (min clip_id) of its distinct (sha1(bytes), codec, sr_hz) decode
    key — the decode-once-per-distinct-payload discipline's key map.
    One JVM-only sha1 pass + a slim self-join; the payload never
    shuffles. Null key components group null-safely (matching groupBy
    semantics), so byte-identical exact duplicates always share one
    representative. ``hashed`` — a precomputed (clip_id, sha, codec,
    sr_hz) frame (pipeline.hashed_frame); pass it (and ``clips=None``)
    to skip the sha pass when the pipeline already hashed the batch."""
    if hashed is not None:
        keyed = hashed.select(
            "clip_id", F.col("sha").alias("_k"), "codec", "sr_hz"
        )
    else:
        keyed = clips.select(
            "clip_id", F.sha1("bytes").alias("_k"), "codec", "sr_hz"
        )
    reps = (
        keyed.groupBy("_k", "codec", "sr_hz")
        .agg(F.min("clip_id").alias("rep_id"))
        .select(
            F.col("_k").alias("_k2"),
            F.col("codec").alias("_codec2"),
            F.col("sr_hz").alias("_sr2"),
            "rep_id",
        )
    )
    return keyed.join(
        reps,
        F.col("_k").eqNullSafe(F.col("_k2"))
        & F.col("codec").eqNullSafe(F.col("_codec2"))
        & F.col("sr_hz").eqNullSafe(F.col("_sr2")),
    ).select("clip_id", "rep_id")


def audio_fingerprints_dedup(
    clips: DataFrame, keys: DataFrame | None = None
) -> DataFrame:
    """Same output frame as ``audio_fingerprints``, but the decode +
    resample + FFT runs ONCE per distinct (sha1(bytes), codec, sr_hz)
    payload key — the decode-once-per-distinct-payload discipline of
    pipeline.audio_stats_table, applied to the fingerprint scan. The
    fingerprint is a pure function of exactly that key, so byte-identical
    payloads share one by construction; on dup-heavy corpora (the regime
    content dedup exists for) the expensive scan shrinks by the dup
    factor and the per-clip frame is recovered with a slim equi-join
    (~360 B fp rows, never the payload).

    Plan shape: payload_reps builds the (clip → rep) key map (one
    JVM-only sha1 pass, null-safe key grouping — the decode UDF
    tolerates null codec/sr_hz, WAV headers carry the rate);
    representative rows are selected with a left-semi join (scan-side
    filter, payload never shuffles) and fingerprinted map-only; the
    rep fingerprints join back over the slim map on rep_id. Null-payload
    and undecodable groups inherit their rep's null fingerprint row,
    exactly like the plain scan. ``keys`` — pass a precomputed
    payload_reps frame to share the sha pass with other consumers; when
    omitted the map is persisted internally (it appears in BOTH the
    rep-selection and join-back subtrees — unpersisted, each
    materialization would pay the sha1 payload scan twice). Persist
    barriers here follow the module discipline: released by the
    caller's clearCache between jobs (see fingerprint_neardup_pairs)."""
    if keys is None:
        keys = payload_reps(clips).persist()
        keys.count()
    rep_rows = clips.join(
        keys.select(F.col("rep_id").alias("clip_id")).distinct(),
        "clip_id",
        "left_semi",
    )
    rep_fps = audio_fingerprints(rep_rows).withColumnRenamed("clip_id", "rep_id")
    return keys.join(rep_fps, "rep_id", "left").select(
        "clip_id", "n_subfp", "fp"
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


def derive_max_token_df(fps: DataFrame) -> int:
    """Corpus-derived hub-token document-frequency cap (the spec-v5
    "auto" mode). One slim aggregation job over the distinct-fingerprint
    token stream: count postings and distinct tokens, take the ceiling
    mean, clamp to [AUTO_TOKEN_DF_FLOOR, AUTO_TOKEN_DF_CEILING] after
    the AUTO_TOKEN_DF_MULT multiplier. Pure integer arithmetic — the
    eager labeler (oracle/audio_oracle.py) recomputes the same number
    from its dict-based index, so both engines drop exactly the same
    stop-tokens on any corpus."""
    row = (
        fps.where(F.col("n_subfp") >= TOKEN_LEN)
        .select("fp")
        .distinct()
        .select(F.explode(F.array_distinct(_token_expr())).alias("token"))
        .agg(
            F.count(F.lit(1)).alias("n_post"),
            F.count_distinct("token").alias("n_tok"),
        )
        .first()
    )
    if row is None or not row["n_tok"]:
        return AUTO_TOKEN_DF_FLOOR
    mean_ceil = -(-int(row["n_post"]) // int(row["n_tok"]))
    return int(
        min(
            AUTO_TOKEN_DF_CEILING,
            max(AUTO_TOKEN_DF_FLOOR, AUTO_TOKEN_DF_MULT * mean_ceil),
        )
    )


def fingerprint_tokens(
    fps: DataFrame,
    max_token_df: int | str | None = "auto",
) -> DataFrame:
    """→ (clip_id, token): each fingerprint row's DISTINCT tokens
    (array_distinct before the explode — per-row dedup inside Catalyst,
    no shuffle), with stop-tokens above the document-frequency cap
    dropped. ``max_token_df="auto"`` (the default) derives the cap from
    corpus stats via derive_max_token_df; pass an int to pin it or None
    to opt out entirely. The df filter's basis is DISTINCT FINGERPRINT
    VALUES (see derive_max_token_df) so the same tokens are dropped
    whether the frame holds clips or payload reps."""
    toks = fps.where(F.col("n_subfp") >= TOKEN_LEN).select(
        "clip_id",
        F.explode(F.array_distinct(_token_expr())).alias("token"),
    )
    if max_token_df is None:
        return toks
    df_tbl = (
        fps.where(F.col("n_subfp") >= TOKEN_LEN)
        .select("fp")
        .distinct()
        .select(
            F.explode(F.array_distinct(_token_expr())).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if max_token_df == "auto":
        # The cap is derived INSIDE the same plan (a broadcast one-row
        # aggregate over df_tbl joined back as the filter bound) instead
        # of an eager derive_max_token_df job: the df_tbl exchange is
        # then REUSED between the agg and the filter branch, so the
        # distinct-fp token stream is scanned once per query, not twice
        # per call. Integer arithmetic matches derive_max_token_df /
        # the eager labeler exactly: ceil-mean via `div` (no double
        # division — exact past 2^53 postings), then MULT/clamp.
        cap = (
            df_tbl.agg(
                F.sum("df").alias("n_post"), F.count(F.lit(1)).alias("n_tok")
            )
            .select(
                F.when(  # empty corpus: ANSI div-by-zero guard (lazily
                    F.col("n_tok") > 0,  # evaluated); FLOOR matches
                    F.least(  # derive_max_token_df's empty case
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
        )
        # 1-row broadcast join (plans as BroadcastNestedLoopJoin with
        # the df<=_cap bound as its condition — LINEAR, build side is
        # one row; the same allow-listed shape as the registry's 1-row
        # scalar crossJoins). AQE reuses the df_tbl exchange between
        # this branch and the cap aggregate at runtime.
        rare = (
            df_tbl.join(F.broadcast(cap), F.col("df") <= F.col("_cap"))
            .select("token")
        )
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
    ("auto": corpus-derived, see derive_max_token_df — the FLOOR keeps
    every token of a small corpus, so test/sf-scale semantics are
    unchanged); ``None`` is the explicit opt-out. The semantic tradeoff
    of ANY df cap: content popular enough that its own distinct variants
    exceed the cap stops pairing through those tokens — the collapsed-
    variant escape hatch (module docstring) is the answer there, not an
    uncapped join. ``toks`` — pass a precomputed fingerprint_tokens
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
    """Materialize the per-clip fingerprints as a parquet side-table —
    the build-once/probe-many shape (same discipline as the IVF index
    build in operators/ann.py). Fingerprinting is the expensive stage
    (decode + resample + FFT over every payload byte); on a 100 TB
    corpus it runs ONCE per ingest and every downstream consumer
    (near-dup pairing, clustering, content-dedup decisions, streaming
    registry seeding) reads the ~90-int rows instead of re-decoding
    audio. The build decodes once per DISTINCT payload — at ingest the
    corpus still carries its duplicates, which is precisely when the rep
    discipline pays — and the rows carry ``rep_id`` (the clip's
    payload_reps representative) so consumers needing the exact-dup
    group map (content_dedup_decisions' rep-level collapse) read it here
    instead of re-hashing the payload. Write is plain parquet; callers
    own tmp+rename atomicity (see queries._fps_table)."""
    keys = payload_reps(clips).persist()
    keys.count()
    try:
        audio_fingerprints_dedup(clips, keys=keys).join(keys, "clip_id").where(
            F.col("fp").isNotNull()
        ).select("clip_id", "rep_id", "n_subfp", "fp").write.mode(
            "overwrite"
        ).parquet(path)
    finally:
        keys.unpersist()


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
    fingerprint table is on disk. Without it the frame is computed and
    persisted here (three consumers — token side a, token side b, verify
    join — would otherwise re-run the scan), the pair output is
    materialized eagerly (localCheckpoint — pairs are slim, bounded by
    near-dup volume), and the internal persists are released before
    returning, so the convenience path leaks no cached frames."""

    def pairs_of(fp_frame: DataFrame) -> DataFrame:
        cand = fingerprint_candidate_pairs(fp_frame, max_token_df)
        a = fp_frame.select(
            F.col("clip_id").alias("clip_a"),
            F.col("fp").alias("fp_a"),
            F.col("n_subfp").alias("n_a"),
        )
        b = fp_frame.select(
            F.col("clip_id").alias("clip_b"),
            F.col("fp").alias("fp_b"),
            F.col("n_subfp").alias("n_b"),
        )
        return with_ber(cand.join(a, "clip_a").join(b, "clip_b"), max_ber).select(
            "clip_a", "clip_b", "n_overlap", "ber"
        )

    if fps is not None:
        return pairs_of(fps)
    keys = payload_reps(clips).persist()
    keys.count()
    fps_local = (
        audio_fingerprints_dedup(clips, keys=keys)
        .where(F.col("fp").isNotNull())
        .persist()
    )
    fps_local.count()
    try:
        return pairs_of(fps_local).localCheckpoint(eager=True)
    finally:
        fps_local.unpersist()
        keys.unpersist()


def with_ber(pairs_with_fps: DataFrame, max_ber: float) -> DataFrame:
    """Append (n_overlap, ber) to a frame carrying (fp_a, n_a, fp_b,
    n_b) and keep rows with ber ≤ max_ber — the shared verification
    stage of the batch near-dup pairing above and the streaming
    cross-batch probe (streaming/contentfp.py). All whole-stage codegen.

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


def content_dedup_decisions(
    clips: DataFrame,
    decisions: DataFrame,
    max_ber: float = 0.1,
    fps: DataFrame | None = None,
    max_token_df: int | str | None = "auto",
) -> DataFrame:
    """Optional pipeline post-pass: drop content-level near-duplicates
    the byte-SHA dedup tier cannot see (gain-scaled, transcoded,
    resampled, lightly trimmed copies).

    Fingerprint near-dup pairs → connected components (near-duplication
    is transitive: A≈B≈C must not drop the whole clique) → every cluster
    member except the keeper (min clip_id, the same keep-first-min-id
    convention as every other dedup tier here) gets ``keep = false`` and
    ``content_duplicate`` appended to ``rules_fired``. All other
    decision rows and columns pass through untouched, so the post-pass
    composes with run/job.py, findings_from_decisions (pass
    ``extra_severities={CONTENT_DUP_RULE: CONTENT_DUP_SEVERITY}``) and
    the summary/report sinks.

    Exact byte-duplicates are content-duplicates too (BER 0), so a clip
    already dropped by the SHA tier may additionally carry this rule —
    truthful, and the keeper conventions coincide (min clip_id in both
    tiers), so no keeper is ever dropped by the other tier.

    Scale shape — REPRESENTATIVE-LEVEL (the same collapse as the text
    tier's minhash_verified_pairs_collapsed): byte-identical clips share
    a fingerprint by construction, so pairing runs only between the
    distinct-payload representatives (payload_reps) and each verdict
    expands back over the exact-dup group by the key map. A d-clip
    exact-dup clique contributes ZERO intra-clique pair rows instead of
    d(d-1)/2, and the fingerprint scan decodes once per distinct
    payload. The expansion preserves the per-clip semantics exactly: the
    group's min clip_id IS its representative, and the component
    keeper's min-over-reps IS the min over all member clips, so
    flag(clip) = clip_id != keeper(rep(clip)) reproduces the per-clip
    component labeling (BER-0 intra-group edges included) without
    materializing it.

    Internal persists (the non-fingerprint-table branches) are released
    before returning: the slim ``dups`` frame — bounded by the number of
    flagged clips — is materialized eagerly (localCheckpoint), severing
    the output's lineage from the cached key map / rep fingerprints, so
    repeated post-pass calls in a long-lived session accumulate nothing."""
    from .simdedup import neardup_components

    owned: list[DataFrame] = []
    if fps is not None and "rep_id" in fps.columns:
        # the ingest fingerprint table carries the key map — the whole
        # post-pass runs with ZERO payload reads
        keys = fps.select("clip_id", "rep_id")
        rep_fps = fps.where(F.col("clip_id") == F.col("rep_id")).select(
            "clip_id", "n_subfp", "fp"
        )
    else:
        # one slim sha pass over the payload, persisted so no consumer
        # of this plan re-scans bytes (released in the finally below)
        keys = payload_reps(clips).persist()
        keys.count()
        owned.append(keys)
        rep_ids = keys.select(F.col("rep_id").alias("clip_id")).distinct()
        if fps is not None:
            rep_fps = fps.join(rep_ids, "clip_id", "left_semi")
        else:
            rep_rows = clips.join(rep_ids, "clip_id", "left_semi")
            rep_fps = audio_fingerprints(rep_rows).where(F.col("fp").isNotNull())
            rep_fps = rep_fps.persist()
            rep_fps.count()
            owned.append(rep_fps)
    try:
        # resolve the "auto" cap ONCE so pairing and the expansion gate
        # below see the identical integer (two independent derivations
        # would be equal anyway — same stats — but pay a second job)
        if max_token_df == "auto":
            max_token_df = derive_max_token_df(rep_fps)
        pairs = fingerprint_neardup_pairs(
            clips,
            max_ber=max_ber,
            fps=rep_fps,
            max_token_df=max_token_df,
        ).select(F.col("clip_a").alias("doc_a"), F.col("clip_b").alias("doc_b"))
        comp = neardup_components(pairs).select(
            F.col("doc_id").alias("rep_id"), F.col("cluster_id").alias("_keeper")
        )
        # expand rep verdicts over their exact-dup groups: keeper defaults
        # to the rep itself (groups with no cross-content match still flag
        # their non-rep members — those pairs were BER-0 edges in the
        # per-clip formulation). The expansion covers only reps with ≥1
        # SURVIVING token (post-df-cap — fingerprint_tokens applies the
        # same cap as pairing): a rep with no surviving token can never
        # pair with ANYTHING in the per-clip formulation — its exact dups
        # stay unflagged there, so they must stay unflagged here too.
        toked = (
            fingerprint_tokens(rep_fps, max_token_df)
            .select(F.col("clip_id").alias("rep_id"))
            .distinct()
        )
        dups = (
            keys.join(toked, "rep_id", "left_semi")
            .join(comp, "rep_id", "left")
            .withColumn("_keeper", F.coalesce("_keeper", "rep_id"))
            .where(F.col("clip_id") != F.col("_keeper"))
            .select("clip_id", F.lit(True).alias("_content_dup"))
        )
        if owned:
            dups = dups.localCheckpoint(eager=True)
    finally:
        for frame in owned:
            frame.unpersist()
    out = decisions.join(dups, "clip_id", "left")
    is_dup = F.coalesce(F.col("_content_dup"), F.lit(False))
    cols = []
    for c in decisions.columns:
        if c == "keep":
            cols.append((F.col("keep") & ~is_dup).alias("keep"))
        elif c == "rules_fired":
            cols.append(
                F.when(
                    is_dup,
                    F.array_append(F.col("rules_fired"), F.lit(CONTENT_DUP_RULE)),
                )
                .otherwise(F.col("rules_fired"))
                .alias("rules_fired")
            )
        else:
            cols.append(F.col(c))
    return out.select(*cols)
