"""Arrow-batched pandas UDFs — the only Python that runs on executors.

Each one is a *scalar pandas UDF*: Spark ships Arrow record batches to the
Python worker, we compute with numpy/pandas vectorized ops over the whole
batch, and return a batch. No row-at-a-time Spark UDFs anywhere (the
reference's per-row loops, src/core/validator.py:170,204,227, are exactly
what this design eliminates).

Batch sizing: ``spark.sql.execution.arrow.maxRecordsPerBatch`` is set low
(config.arrow_max_records_per_batch) because the ``bytes`` column carries
whole audio payloads.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

from ..config import (
    DEFAULT_CONFIG,
    EMAIL_REGEX_SCAN,
    EMAIL_REDACTION,
    PHONE_REGEX_SCAN,
    PHONE_REDACTION,
    TOXICITY_REDACTION,
    TOXICITY_TERMS,
)
from ..corpus.audio import decode_clip_i16
from ..schema import AUDIO_STATS_FP_SCHEMA, AUDIO_STATS_SCHEMA, LANGID_SCHEMA
from . import textmodel

_FULL_SCALE_THRESHOLD = 32766.0 / 32767.0

_EMAIL_RE = re.compile(EMAIL_REGEX_SCAN)
_PHONE_RE = re.compile(PHONE_REGEX_SCAN)
_TOX_RE = re.compile(r"\b(?:" + "|".join(TOXICITY_TERMS) + r")\b", re.IGNORECASE)
_PHONE_STRIP_RE = re.compile(r"[\s\-\(\)\.\+]")


def _langid(transcript: pd.Series) -> pd.DataFrame:
    """fastText-style hashed char-trigram language ID (textmodel docstring).

    One vectorized pass per Arrow batch: single utf-32 decode of the whole
    batch, hashed trigram windows, bincount per-doc reduction.
    """
    mask = transcript.notna()
    texts = transcript[mask].astype(str).tolist()
    lang = pd.Series([None] * len(transcript), index=transcript.index, dtype=object)
    conf = pd.Series(np.nan, index=transcript.index, dtype=float)
    if texts:
        idx, cf = textmodel.langid_batch(texts)
        langs = [textmodel.LANGS[i] if i >= 0 else None for i in idx]
        lang.loc[mask] = langs
        conf.loc[mask] = cf
    return pd.DataFrame({"lang": lang, "conf": conf})


def _perplexity(transcript: pd.Series) -> pd.Series:
    """Char-trigram stupid-backoff LM perplexity (higher = less natural)."""
    mask = transcript.notna()
    out = pd.Series(np.nan, index=transcript.index, dtype=float)
    texts = transcript[mask].astype(str).tolist()
    if texts:
        out.loc[mask] = textmodel.perplexity_batch(texts)
    return out


def _audio_stats_core(
    payload: pd.Series, codec: pd.Series, sr_hz: pd.Series, with_fp: bool
) -> pd.DataFrame:
    """Decode audio payloads → (n_samples, peak, rms, clip_ratio, decoded_ms,
    decode_ok[, n_subfp, fp]) from ONE decode per row.

    The binary-payload analog of the reference's type/range validation
    (src/core/validator.py:125-159). Decoding a variable-length blob is
    per-value by nature; the stats per clip are numpy-vectorized.

    Memory-bandwidth-aware: stats are computed on the RAW int16 samples
    (abs/compare in int32, energy in one float32 dot) — converting to
    float64 first costs ~8× the memory traffic of the payload and caps
    multi-core scaling long before CPUs saturate.

    ``with_fp`` additionally computes the Philips content fingerprint
    (operators/audiofp spec: resample to FP_SR, then
    clip_subfingerprints) on the already-decoded samples: one payload
    decode serves both the quality rules and the content-dedup tier.
    This is the only fingerprint producer — audiofp.audio_fingerprints
    selects its (n_subfp, fp) columns.
    """
    if with_fp:
        from ..operators.audio import resample_linear_i16
        from ..operators.audiofp import FP_SR, clip_subfingerprints

    n = len(payload)
    n_samples = np.full(n, np.nan)
    peak = np.full(n, np.nan)
    rms = np.full(n, np.nan)
    clip_ratio = np.full(n, np.nan)
    decoded_ms = np.full(n, np.nan)
    decode_ok = np.full(n, None, dtype=object)
    n_subfp = np.full(n, None, dtype=object)
    fp = np.full(n, None, dtype=object)

    full_scale_i16 = 32766  # |x| >= 32766 ⟺ |x|/32767 >= _FULL_SCALE_THRESHOLD

    for i, (b, c, s) in enumerate(zip(payload.values, codec.values, sr_hz.values)):
        if b is None or (isinstance(b, float) and pd.isna(b)):
            continue
        decoded = decode_clip_i16(bytes(b), c, None if pd.isna(s) else int(s))
        if decoded is None:
            decode_ok[i] = False
            continue
        samples, sr = decoded
        decode_ok[i] = True
        m = len(samples)
        n_samples[i] = m
        if m:
            a = np.abs(samples.astype(np.int32))
            peak[i] = float(a.max()) / 32767.0
            xf = samples.astype(np.float32)
            rms[i] = float(np.sqrt(np.dot(xf, xf) / m)) / 32767.0
            clip_ratio[i] = float(np.count_nonzero(a >= full_scale_i16)) / m
        if sr:
            decoded_ms[i] = 1000.0 * m / sr
        if with_fp:
            x16 = samples if sr == FP_SR else resample_linear_i16(samples, sr, FP_SR)
            subs = clip_subfingerprints(x16)
            n_subfp[i] = len(subs)
            fp[i] = subs.tolist()

    out = {
        "n_samples": pd.array(
            [None if np.isnan(v) else int(v) for v in n_samples], dtype="Int64"
        ),
        "peak": peak,
        "rms": rms,
        "clip_ratio": clip_ratio,
        "decoded_ms": decoded_ms,
        "decode_ok": pd.array(decode_ok, dtype="boolean"),
    }
    if with_fp:
        out["n_subfp"] = pd.array(
            [None if v is None else int(v) for v in n_subfp], dtype="Int64"
        )
        out["fp"] = fp
    return pd.DataFrame(out)


def _audio_stats(payload: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.DataFrame:
    return _audio_stats_core(payload, codec, sr_hz, with_fp=False)


def _audio_stats_fp(
    payload: pd.Series, codec: pd.Series, sr_hz: pd.Series
) -> pd.DataFrame:
    return _audio_stats_core(payload, codec, sr_hz, with_fp=True)


def _phone_sub(m: re.Match) -> str:
    digits = _PHONE_STRIP_RE.sub("", m.group(0))
    if digits.isdigit() and 7 <= len(digits) <= 15:  # validator.py:207-208
        return PHONE_REDACTION
    return m.group(0)


def _scrub(transcript: pd.Series) -> pd.DataFrame:
    """Compiled-regex PII/toxicity scrubber.

    Detection flags are computed on the ORIGINAL text (reference semantics:
    the email/phone validators scan the raw column,
    src/core/validator.py:161-219); redaction order is email → phone →
    toxicity. Pure pandas .str ops over the batch.
    """
    s = transcript.astype("string")
    had_email = s.str.contains(_EMAIL_RE, regex=True)
    phone_pass_orig = s.str.replace(_PHONE_RE, _phone_sub, regex=True)
    had_phone = phone_pass_orig != s
    had_tox = s.str.contains(_TOX_RE, regex=True)

    scrubbed = (
        s.str.replace(_EMAIL_RE, EMAIL_REDACTION, regex=True)
        .str.replace(_PHONE_RE, _phone_sub, regex=True)
        .str.replace(_TOX_RE, TOXICITY_REDACTION, regex=True)
    )
    return pd.DataFrame(
        {
            "scrubbed": scrubbed.astype(object).where(scrubbed.notna(), None),
            "had_email": had_email.astype(object).where(had_email.notna(), None),
            "had_phone": had_phone.astype(object).where(had_phone.notna(), None),
            "had_tox": had_tox.astype(object).where(had_tox.notna(), None),
        }
    )


# pandas_udf return-type parsing needs an active SparkSession, so the UDFs
# are materialized lazily (once per process) instead of at import time.

@lru_cache(maxsize=1)
def get_udfs() -> dict:
    # Seed the trained-model disk cache from the driver BEFORE any
    # executor runs: every (worker-reused) Python worker then loads the
    # ~12 MB constant arrays from page cache instead of re-training ~0.9 s
    # each on first batch (the measured cold-start tax of BENCH_r02).
    textmodel.get_models()
    return {
        "langid": pandas_udf(LANGID_SCHEMA)(_langid),
        "perplexity": pandas_udf("double")(_perplexity),
        "audio_stats": pandas_udf(AUDIO_STATS_SCHEMA)(_audio_stats),
        "audio_stats_fp": pandas_udf(AUDIO_STATS_FP_SCHEMA)(_audio_stats_fp),
        "scrub": pandas_udf(
            "struct<scrubbed:string, had_email:boolean, had_phone:boolean, had_tox:boolean>"
        )(_scrub),
    }
