"""Content-fingerprint tier (operators/audiofp.py): spec-level
robustness on constructed PCM (gain exactness, resample tolerance on
in-band content, unrelated separation), full corpus parity vs the
independent eager labeler, end-to-end near-dup pairing, and plan-shape
guards (map-only fingerprinting; equi-join-only pairing)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_quality_checker_spark.corpus.audio import encode_wav
from data_quality_checker_spark.operators import audiofp as FP
from data_quality_checker_spark.operators.audio import resample_linear_i16
from data_quality_checker_spark.oracle import audio_oracle as O


def _speechlike(seed: int, secs: float = 2.0, sr: int = FP.FP_SR) -> np.ndarray:
    """Harmonic, AM-modulated signal with energy across the fingerprint
    band range (300-2000 Hz) — the structure real speech has. Float in
    [-1, 1]."""
    r = np.random.default_rng(seed)
    t = np.arange(int(sr * secs)) / sr
    f0t = 150.0 * (1 + 0.08 * np.sin(2 * np.pi * r.uniform(0.3, 0.8) * t))
    phase = 2 * np.pi * np.cumsum(f0t) / sr
    sig = sum(
        r.uniform(0.3, 1.0) / h * np.sin(h * phase + r.uniform(0, 6))
        for h in range(1, 13)
    )
    sig *= 0.55 + 0.45 * np.sin(2 * np.pi * r.uniform(2, 5) * t + r.uniform(0, 6))
    sig += 0.02 * r.standard_normal(len(t))
    return sig / np.abs(sig).max() * 0.8


def _i16(sig: np.ndarray) -> np.ndarray:
    return np.clip(sig * 32767.0, -32768, 32767).astype(np.int16)


def _ber(f1, f2) -> float:
    n = min(len(f1), len(f2))
    assert n > 0
    return sum(bin(int(f1[k]) ^ int(f2[k])).count("1") for k in range(n)) / (
        FP.FP_N_BITS * n
    )


def _tokens(f) -> set:
    return {
        tuple(int(v) for v in f[p : p + FP.TOKEN_LEN])
        for p in range(len(f) - FP.TOKEN_LEN + 1)
    }


# ---------------------------------------------------------------------------
# spec-level robustness (numpy, no Spark)


def test_subfp_gain_near_invariant():
    x = _i16(_speechlike(0))
    fa = FP.clip_subfingerprints(x)
    fg = FP.clip_subfingerprints(np.rint(x * 0.6).astype(np.int16))
    assert len(fa) > FP.TOKEN_LEN
    # energies scale by g² exactly; only int16 rounding noise can flip bits
    assert _ber(fa, fg) < 0.02
    assert len(_tokens(fa) & _tokens(fg)) >= len(_tokens(fa)) // 2


def test_subfp_resample_robust_inband():
    x = _i16(_speechlike(1, secs=3.0))
    fa = FP.clip_subfingerprints(x)
    # stored at 8 kHz, fingerprint path upsamples back to FP_SR
    x8 = resample_linear_i16(x, FP.FP_SR, 8000)
    fh = FP.clip_subfingerprints(resample_linear_i16(x8, 8000, FP.FP_SR))
    assert _ber(fa, fh) < 0.15  # Philips near-dup threshold is 0.35
    assert len(_tokens(fa) & _tokens(fh)) > 0  # candidate join will fire


def test_subfp_unrelated_separation():
    fa = FP.clip_subfingerprints(_i16(_speechlike(2)))
    fb = FP.clip_subfingerprints(_i16(_speechlike(3)))
    assert _ber(fa, fb) > 0.3
    assert not (_tokens(fa) & _tokens(fb))


def test_subfp_short_clip_empty():
    assert len(FP.clip_subfingerprints(np.zeros(100, dtype=np.int16))) == 0
    n = FP.FP_FRAME + FP.FP_HOP
    assert len(FP.clip_subfingerprints(np.ones(n, dtype=np.int16))) == 1


# ---------------------------------------------------------------------------
# Spark operator vs independent eager labeler — full corpus parity


def test_fingerprints_spark_parity_corpus(spark, clips_pdf, clips_df):
    pdf = clips_pdf.drop(columns=["defect"])
    s = (
        FP.audio_fingerprints(clips_df)
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    o = O.label_audio_fingerprints(pdf).sort_values("clip_id").reset_index(drop=True)
    assert len(s) == len(o) == len(pdf)
    assert s["clip_id"].tolist() == o["clip_id"].tolist()
    s_str = s["fp"].map(
        lambda v: None if v is None else ",".join(str(int(x)) for x in v)
    )
    assert s_str.tolist() == o["fp_str"].tolist()
    assert (
        s["n_subfp"].astype("object").where(s["n_subfp"].notna(), None).tolist()
        == o["n_subfp"].astype("object").where(o["n_subfp"].notna(), None).tolist()
    )


def test_neardup_pairs_end_to_end(spark, clips_pdf):
    sr = FP.FP_SR
    base = _speechlike(10, secs=2.5)
    x = _i16(base)
    rows = [
        ("orig", encode_wav(base, sr), sr, 2500, "wav", "t"),
        # gain-scaled copy: BER ≈ 0 → pair
        ("gain", encode_wav(base * 0.6, sr), sr, 2500, "wav", "t"),
        # stored at half rate: in-band content survives → pair
        (
            "half",
            encode_wav(
                resample_linear_i16(x, sr, 8000).astype(np.float64) / 32767.0, 8000
            ),
            8000,
            2500,
            "wav",
            "t",
        ),
        # prefix of orig, ~0.4 s shorter: FEWER sub-fingerprints, so the
        # BER must be computed over the common prefix (zip_with on the
        # raw arrays would null-pad and silently drop this true pair)
        ("trim", encode_wav(base[: int(sr * 2.1)], sr), sr, 2100, "wav", "t"),
        ("other", encode_wav(_speechlike(11, secs=2.5), sr), sr, 2500, "wav", "t"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )
    df = spark.createDataFrame(
        pdf,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    got = {
        (r.clip_a, r.clip_b): r.ber
        for r in FP.fingerprint_neardup_pairs(df).collect()
    }
    assert ("gain", "orig") in got and got[("gain", "orig")] < 0.02
    assert ("half", "orig") in got and got[("half", "orig")] < 0.15
    assert ("orig", "trim") in got and got[("orig", "trim")] < 0.02
    assert all("other" not in pair for pair in got)
    # exact agreement with the independent labeler on the same frame
    o = O.label_fingerprint_pairs(pdf)
    o_pairs = {(r.clip_a, r.clip_b): r.ber for r in o.itertuples()}
    assert got == o_pairs


def test_content_dedup_decisions_post_pass(spark):
    """Pipeline composition: the content tier drops the gain-scaled copy
    the SHA tier missed, keeps the cluster keeper, appends the rule, and
    leaves every other decision row untouched; findings pick up the
    post-pass severity via extra_severities."""
    from data_quality_checker_spark.pipeline import (
        findings_from_decisions,
        run_pipeline,
    )

    sr = FP.FP_SR
    base = _speechlike(20, secs=2.5)
    tx = "hello there this is a transcript of reasonable length"
    rows = [
        ("a_orig", encode_wav(base, sr), sr, 2500, "wav", tx),
        ("b_gain", encode_wav(base * 0.6, sr), sr, 2500, "wav", tx),  # SHA differs
        ("c_exact", encode_wav(base, sr), sr, 2500, "wav", tx),  # SHA-equal to a_orig
        ("d_other", encode_wav(_speechlike(21, secs=2.5), sr), sr, 2500, "wav", tx),
    ]
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )
    clips = spark.createDataFrame(
        pdf,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    base_dec = run_pipeline(spark, clips).decisions
    out = FP.content_dedup_decisions(clips, base_dec)
    got = {r.clip_id: (r.keep, tuple(r.rules_fired)) for r in out.collect()}

    # keeper (min clip_id of the content cluster) survives
    assert got["a_orig"][0] is True and got["a_orig"][1] == ()
    # gain copy: byte-SHA missed it, content tier catches it
    assert got["b_gain"][0] is False
    assert "content_duplicate" in got["b_gain"][1]
    assert "duplicate" not in got["b_gain"][1]
    # exact copy: dropped by BOTH tiers, truthfully double-flagged
    assert got["c_exact"][0] is False
    assert {"duplicate", "content_duplicate"} <= set(got["c_exact"][1])
    # unrelated clip untouched
    assert got["d_other"][0] is True and got["d_other"][1] == ()

    sev = {
        (r.clip_id, r.rule): r.severity
        for r in findings_from_decisions(
            out,
            extra_severities={FP.CONTENT_DUP_RULE: FP.CONTENT_DUP_SEVERITY},
        ).collect()
    }
    assert sev[("b_gain", "content_duplicate")] == "medium"
    assert sev[("c_exact", "duplicate")] == "medium"


def test_content_dedup_zero_token_group_unflagged(spark):
    """Rep-level expansion must NOT flag exact duplicates of a
    ZERO-TOKEN clip (all-degenerate silence windows, or too few subfps
    to form a token): the per-clip formulation produces no candidate
    pair for them, so the collapse has to gate its expansion on
    token-bearing reps (review finding, round 4)."""
    from data_quality_checker_spark.pipeline import run_pipeline

    sr = FP.FP_SR
    silent = np.zeros(int(sr * 1.0), dtype=np.int16)
    voiced = _i16(_speechlike(5, secs=2.0))
    tx = "hello there this is a transcript of reasonable length"
    rows = [
        ("s_a", encode_wav(silent, sr), sr, 1000, "wav", tx),
        ("s_b", encode_wav(silent, sr), sr, 1000, "wav", tx),  # exact silent dup
        ("v_a", encode_wav(voiced, sr), sr, 2000, "wav", tx),
        ("v_b", encode_wav(voiced, sr), sr, 2000, "wav", tx),  # exact voiced dup
    ]
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )
    clips = spark.createDataFrame(
        pdf,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    # sanity: the silent clip really is token-free at the spec level
    assert len(O._subfps_for_clip(silent.astype(np.int64))) >= FP.TOKEN_LEN
    assert not _tokens_nondegenerate(silent)
    dec = run_pipeline(spark, clips).decisions
    out = FP.content_dedup_decisions(clips, dec)
    got = {r.clip_id: set(r.rules_fired) for r in out.collect()}
    # the silent dup is (correctly) a byte-SHA duplicate but must NOT
    # carry content_duplicate — no token can ever pair it
    assert "content_duplicate" not in got["s_b"], got
    assert "duplicate" in got["s_b"]
    # the voiced dup group still double-flags, as before
    assert "content_duplicate" in got["v_b"]
    spark.catalog.clearCache()  # release the operator's persist barriers


def _tokens_nondegenerate(x16) -> set:
    subfps = O._subfps_for_clip(np.asarray(x16, dtype=np.int64))
    toks = set()
    for p in range(len(subfps) - FP.TOKEN_LEN + 1):
        w = subfps[p : p + FP.TOKEN_LEN]
        if len(set(w)) > 1:
            toks.add(tuple(w))
    return toks


def test_content_dedup_fast_path_reads_no_payload(spark, tmp_path):
    """With a rep_id-bearing ingest fingerprint table, the content
    post-pass must run with ZERO payload reads — no sha1, no binary
    column in the executed plan (the 'once per ingest, never per query'
    contract)."""
    sr = FP.FP_SR
    base = _speechlike(30, secs=2.0)
    rows = [
        ("a", encode_wav(base, sr), sr, 2000, "wav", "tx"),
        ("b", encode_wav(base, sr), sr, 2000, "wav", "tx"),
        ("c", encode_wav(_speechlike(31, secs=2.0), sr), sr, 2000, "wav", "tx"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )
    clips = spark.createDataFrame(
        pdf,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    path = str(tmp_path / "fps_tbl")
    FP.fingerprint_table(clips, path)
    tbl = spark.read.parquet(path)
    assert "rep_id" in tbl.columns
    dec = spark.createDataFrame(
        [(c, True, []) for c, *_ in rows],
        "clip_id string, keep boolean, rules_fired array<string>",
    )
    out = FP.content_dedup_decisions(clips, dec, fps=tbl)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "sha1" not in plan, plan[:2000]
    assert "bytes" not in plan, plan[:2000]
    got = {r.clip_id: r.keep for r in out.collect()}
    assert got == {"a": True, "b": False, "c": True}
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# plan shape


def test_fingerprints_dedup_matches_plain(spark, clips_pdf):
    """audio_fingerprints_dedup (one decode per distinct payload key)
    must produce EXACTLY the per-clip frame of the plain per-clip scan —
    including null rows for null/undecodable payloads — and its plan
    must decode only representative rows (left-semi selection, payload
    never shuffled to Python twice)."""
    clips = spark.createDataFrame(clips_pdf.drop(columns=["defect"]))

    def frame(df):
        return {
            (r.clip_id, r.n_subfp, tuple(r.fp) if r.fp is not None else None)
            for r in df.collect()
        }

    plain = frame(FP.audio_fingerprints(clips))
    dedup = frame(FP.audio_fingerprints_dedup(clips))
    assert dedup == plain
    plan = (
        FP.audio_fingerprints_dedup(clips)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan[:1500]
    # exactly one Arrow pass (the rep decode); the join-back is JVM-only
    assert plan.count("ArrowEvalPython") == 1, plan[:1500]


def test_candidate_pairs_hub_token_cap(spark):
    """max_token_df (the web-scale hub-skew guard): a stop-token shared
    by every clip must not explode into all-pairs candidates when the
    cap is on, while a genuine pair sharing many RARE tokens survives.
    Built from hand-made fp arrays — the guard is pure token algebra, no
    decode involved."""
    HUB = [100, 200, 300, 400]  # one shared (non-degenerate) window
    rows = []
    # 8 unrelated clips that all contain the hub window then diverge
    for i in range(8):
        fp = HUB + [1000 + 17 * i + j * 31 for j in range(8)]
        rows.append((f"hub_{i:02d}", len(fp), fp))
    # a true pair: 12 identical (rare) sub-fps, no hub window
    true = [5000 + 13 * j for j in range(12)]
    rows.append(("true_a", len(true), true))
    rows.append(("true_b", len(true), true))
    fps = spark.createDataFrame(
        rows, "clip_id string, n_subfp int, fp array<int>"
    )
    uncapped = {
        (r.clip_a, r.clip_b)
        for r in FP.fingerprint_candidate_pairs(fps).collect()
    }
    capped = {
        (r.clip_a, r.clip_b)
        for r in FP.fingerprint_candidate_pairs(fps, max_token_df=4).collect()
    }
    assert ("true_a", "true_b") in uncapped and ("true_a", "true_b") in capped
    # hub-only pairs share exactly 1 token — already pruned by
    # min_shared_tokens; give them a second shared window to prove the
    # df cap (not the count prune) is what kills them
    rows2 = [
        (f"hub_{i:02d}", 16, HUB + [700, 800, 900, 650] + [1000 + 17 * i + j * 31 for j in range(8)])
        for i in range(8)
    ] + [("true_a", 12, true), ("true_b", 12, true)]
    fps2 = spark.createDataFrame(
        rows2, "clip_id string, n_subfp int, fp array<int>"
    )
    uncapped2 = {
        (r.clip_a, r.clip_b)
        for r in FP.fingerprint_candidate_pairs(fps2).collect()
    }
    capped2 = {
        (r.clip_a, r.clip_b)
        for r in FP.fingerprint_candidate_pairs(fps2, max_token_df=4).collect()
    }
    assert any(a.startswith("hub") for a, _ in uncapped2)  # 28 hub pairs
    assert capped2 == {("true_a", "true_b")}


def test_hub_cap_default_path(spark):
    """Spec v5: the df cap is ON by default and corpus-derived. A token
    present in more distinct fingerprints than the derived cap (floor
    256) must be dropped WITHOUT the caller passing anything, killing
    the d(d-1)/2 hub fan-out; max_token_df=None is the explicit opt-out
    that restores it. Hand-made fp arrays: every clip shares two hub
    windows ([h1..h5] → 2 tokens) then diverges."""
    HUB = [100, 200, 300, 400, 500]
    n = 300  # > AUTO_TOKEN_DF_FLOOR
    rows = [
        (f"c{i:04d}", 6, HUB + [1000 + i]) for i in range(n)
    ]  # windows: [h1..h4], [h2..h5] (hubs), [h3,h4,h5,1000+i] (unique)
    fps = spark.createDataFrame(rows, "clip_id string, n_subfp int, fp array<int>")
    cap = FP.derive_max_token_df(fps)
    # 300 distinct fps × 3 tokens = 900 postings over 302 distinct
    # tokens → ceil(mean)=3 → 32*3=96 < floor → cap = 256 < 300 (hub df)
    assert cap == FP.AUTO_TOKEN_DF_FLOOR
    toks_default = FP.fingerprint_tokens(fps)
    hub_tok = 0
    for q in range(4):
        hub_tok = (hub_tok << 16) | HUB[q]
    surviving = {r.token for r in toks_default.select("token").distinct().collect()}
    assert hub_tok not in surviving
    # every clip keeps its unique token — only the hubs died
    assert toks_default.count() == n
    assert FP.fingerprint_candidate_pairs(fps).count() == 0
    # explicit opt-out restores the uncapped fan-out (subset: 30 clips
    # to keep the pair count small) — every pair shares the 2 hub tokens
    sub = spark.createDataFrame(rows[:30], "clip_id string, n_subfp int, fp array<int>")
    assert (
        FP.fingerprint_candidate_pairs(sub, max_token_df=None).count()
        == 30 * 29 // 2
    )
    # ...while the default path on the same 30 clips is ALSO uncapped
    # (df=30 < floor): small corpora keep exact pre-v5 semantics
    assert FP.fingerprint_candidate_pairs(sub).count() == 30 * 29 // 2


def test_hub_cap_engine_parity(spark):
    """derive_max_token_df (Spark) and oracle_token_cap (eager labeler)
    are the same integer function of the same corpus: byte-identical
    duplicate fingerprints count ONCE in both (df over distinct
    fingerprint values), so the rep-level Spark path and the per-clip
    oracle derive the identical cap."""
    rows = [(f"a{i}", 6, [100, 200, 300, 400, 500, 1000 + i]) for i in range(40)]
    rows += [("dup1", 6, rows[0][2]), ("dup2", 6, rows[0][2])]  # exact dups
    fps = spark.createDataFrame(rows, "clip_id string, n_subfp int, fp array<int>")
    spark_cap = FP.derive_max_token_df(fps)

    def tokens_of(fp):
        out = set()
        for p in range(len(fp) - FP.TOKEN_LEN + 1):
            w = fp[p : p + FP.TOKEN_LEN]
            if len(set(w)) == 1:
                continue
            t = 0
            for q in range(FP.TOKEN_LEN):
                t = (t << 16) | w[q]
            out.add(t)
        return out

    distinct_fps = {tuple(fp) for _, _, fp in rows}
    oracle_cap = O.oracle_token_cap([tokens_of(list(fp)) for fp in distinct_fps])
    assert spark_cap == oracle_cap


def test_candidate_pairs_adaptive_floor(spark):
    """Spec v4: a clip short enough to yield exactly ONE token must still
    pair with its content copy — the floor is least(MIN_SHARED_TOKENS,
    tokens(a), tokens(b)), not a fixed 2 (the v3 cliff: min-length clips
    were silently exempt from content dedup)."""
    tiny = [100, 200, 300, 400]  # n_subfp=4 → exactly 1 token
    rows = [
        ("tiny_a", 4, tiny),
        ("tiny_b", 4, tiny),  # exact content copy
        ("long_x", 12, [5000 + 13 * j for j in range(12)]),
        ("long_y", 12, [9000 + 11 * j for j in range(12)]),  # unrelated
    ]
    fps = spark.createDataFrame(rows, "clip_id string, n_subfp int, fp array<int>")
    got = {
        (r.clip_a, r.clip_b, r.n_shared)
        for r in FP.fingerprint_candidate_pairs(fps).collect()
    }
    assert got == {("tiny_a", "tiny_b", 1)}
    # ...and the eager labeler applies the identical floor: a one-token
    # pair with BER 0 survives end-to-end on constructed PCM
    sr = FP.FP_SR
    x = _i16(_speechlike(7, secs=0.13, sr=sr))  # ~2 frames → few subfps
    n_sub = len(O._subfps_for_clip(x.astype(np.int64)))
    if n_sub >= FP.TOKEN_LEN:  # short enough to be the edge, long enough to token
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "clip_id": ["t1", "t2"],
                "bytes": [encode_wav(x, sr)] * 2,
                "codec": ["wav", "wav"],
                "sr_hz": [sr, sr],
            }
        )
        lab = O.label_fingerprint_pairs(pdf)
        assert list(zip(lab.clip_a, lab.clip_b)) == [("t1", "t2")]


def test_fingerprint_plan_map_only(clips_df):
    plan = (
        FP.audio_fingerprints(clips_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, f"fingerprinting shuffles:\n{plan}"
    assert plan.count("ArrowEvalPython") == 1


def test_neardup_pairs_plan_equijoin_only(clips_df):
    # explicit fps= keeps the composed plan inspectable (the convenience
    # fps=None branch now returns an eagerly-checkpointed frame so its
    # internal persists can be released — its plan is a checkpoint scan)
    from pyspark.sql import functions as SF

    fps = FP.audio_fingerprints_dedup(clips_df).where(SF.col("fp").isNotNull())
    df = FP.fingerprint_neardup_pairs(clips_df, fps=fps)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin is forbidden as a quadratic-join smell,
    # with ONE named exception: the auto hub-cap's 1-row broadcast
    # scalar join (condition references _cap — linear, build side is a
    # single aggregate row; same allow-listed shape as the registry's
    # 1-row scalar crossJoins in test_plan_audit).
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "_cap#" in m.group(0), (
            "non-allow-listed BroadcastNestedLoopJoin:\n" + m.group(0)
        )
    # the token-count prune (VERDICT r3 item 4) must sit BETWEEN the
    # token equi-join and the fingerprint-array verify join: a partial
    # (map-side) count aggregate feeding a filter on n_shared, so noise
    # pairs are dropped before any ~90-int array ships
    import re

    # Catalyst may keep the prune as a Filter node or push it into a
    # join condition; either way the predicate must be present upstream
    # of the BER verify
    assert re.search(r"n_shared#\d+L? >= least\(2", plan), (
        "token-count prune predicate missing:\n" + plan[:2000]
    )
    assert "partial_count" in plan or "partial" in plan.lower(), (
        "shared-token count should partial-aggregate map-side:\n" + plan[:2000]
    )
    # hygiene: the operator persists its internal fingerprint frame
    clips_df.sparkSession.catalog.clearCache()


def test_labeler_shared_decode_pass_equivalence(clips_pdf):
    """The fixture build decodes ONCE (audio_oracle.fingerprint_map) and
    feeds the pair + content labelers; the shared-pass outputs must be
    frame-identical to each labeler's own decode path, and the content
    tier's max_ber=0.1 pairs must be exactly the 0.25 frame filtered
    (max_ber is only the final filter)."""
    clips = clips_pdf.drop(columns=["defect"])
    fps_map = O.fingerprint_map(clips)
    direct = O.label_fingerprint_pairs(clips)
    shared = O.label_fingerprint_pairs(clips, fps=fps_map)
    pd.testing.assert_frame_equal(direct, shared)
    content_pairs = shared[shared.ber <= 0.1].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        O.label_fingerprint_pairs(clips, max_ber=0.1), content_pairs
    )
    pd.testing.assert_frame_equal(
        O.label_content_decisions(clips),
        O.label_content_decisions(clips, pairs=content_pairs),
    )
