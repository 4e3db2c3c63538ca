"""Deterministic synthetic media corpus (image + video modality tiers).

Mirrors corpus/generator.py's design for the clips table: fully seeded,
sf-scaled, every defect class represented plus a clean majority. Images
are uncompressed PPM/PGM/BMP payloads (corpus/image.py) and videos are
uncompressed Y4M/YUV4MPEG2 payloads (corpus/video.py) so the numpy
decode paths are exercised for real; defects are the decode failures a
crawler actually sees (truncated raster/frame, unsupported bit depth /
maxval / chroma, null payload) plus exact-duplicate payloads for the
dedup tier. A few audio rows are mixed in so modality filtering stays load-bearing,
not decorative (the stub fallback for compressed video containers is
covered by unit fixtures, never by this corpus — a driver-green row
must mean two REAL decoders agreed, not that a fake was mirrored).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .image import encode_bmp, encode_pgm, encode_ppm
from .video import encode_y4m

MEDIA_PER_SF = 10_000
SEED = 20_260_818
# bump when generated content changes — cache paths embed it
# (v2: video rows became real Y4M, round 5)
MEDIA_VERSION = 3

# defect class → probability (clean = remainder)
MEDIA_DEFECT_PROBS: dict[str, float] = {
    "null_bytes": 0.02,
    "truncated": 0.04,       # valid header, raster cut short
    "bad_maxval": 0.02,      # 16-bit PPM — unsupported by the 8-bit path
    "bad_bpp": 0.02,         # 8-bit palette BMP — unsupported variant
    "dup": 0.06,             # exact payload duplicate of an earlier image
    "video": 0.06,           # real Y4M payloads (the video decode tier)
    "audio": 0.03,
}


def _video_frames(rng: np.random.Generator) -> np.ndarray:
    """Small seeded luma clip (n, h, w): per-frame gradient drift +
    uniform noise — frame-dependent lumas without compressible
    structure."""
    n = int(rng.integers(3, 12))
    h = int(rng.integers(8, 24))
    w = int(rng.integers(9, 25))  # odd widths exercise 4:2:0 ceil planes
    gy = np.linspace(0, 200, h, dtype=np.float64)[:, None]
    gx = np.linspace(0, 200, w, dtype=np.float64)[None, :]
    drift = rng.uniform(0.2, 1.0, size=n)[:, None, None]
    base = (gy + gx)[None, :, :] * drift / 2.0
    noise = rng.integers(0, 56, size=(n, h, w))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def _video_payload(rng: np.random.Generator) -> bytes:
    """One seeded video row: mostly clean Y4M (C420 family or mono at a
    seeded frame rate), with the defect classes the decode contract must
    refuse — truncated frame data and an unsupported chroma header."""
    frames = _video_frames(rng)
    fps = (int(rng.integers(10, 31)), 1)
    sub = int(rng.integers(0, 8))
    if sub == 0:  # truncated inside the last frame's data
        full = encode_y4m(frames, fps=fps)
        return full[: len(full) - int(rng.integers(8, frames[0].size))]
    if sub == 1:  # real Y4M variant outside the decode contract
        mono = encode_y4m(frames, fps=fps, chroma="mono")
        return mono.replace(b" Cmono\n", b" C444\n", 1)
    if sub <= 3:
        return encode_y4m(frames, fps=fps, chroma="mono")
    return encode_y4m(frames, fps=fps)


def _image_array(rng: np.random.Generator) -> np.ndarray:
    """Small seeded RGB image: a two-axis gradient + uniform noise —
    content-dependent features without compressible structure."""
    h = int(rng.integers(16, 64))
    w = int(rng.integers(16, 64))  # odd widths exercise BMP row padding
    gy = np.linspace(0, 255, h, dtype=np.float64)[:, None]
    gx = np.linspace(0, 255, w, dtype=np.float64)[None, :]
    base = (gy * rng.uniform(0.2, 1.0) + gx * rng.uniform(0.2, 1.0)) / 2.0
    noise = rng.integers(0, 64, size=(h, w, 3))
    arr = np.clip(base[:, :, None] + noise, 0, 255).astype(np.uint8)
    return arr


def generate_media(sf: float, seed: int = SEED) -> pd.DataFrame:
    """→ pandas frame in operators/multimodal.MEDIA_SCHEMA shape."""
    n = max(40, int(MEDIA_PER_SF * sf))
    rng = np.random.default_rng(seed)
    classes = list(MEDIA_DEFECT_PROBS)
    probs = np.array([MEDIA_DEFECT_PROBS[c] for c in classes])
    probs = np.append(probs, 1.0 - probs.sum())
    classes.append("clean")
    draws = rng.choice(len(classes), size=n, p=probs)

    rows: list[tuple] = []
    encoders = [("ppm", encode_ppm), ("bmp", encode_bmp), ("pgm", encode_pgm)]
    dup_pool: list[bytes] = []
    for i in range(n):
        media_id = f"m{i:07d}"
        cls = classes[draws[i]]
        if cls == "audio":
            rows.append((media_id, "audio", b"RIFF\x00\x00\x00\x00WAVE",
                         "audio/wav", {"sr_hz": "16000"}))
            continue
        if cls == "video":
            rows.append((media_id, "video", _video_payload(rng),
                         "video/x-yuv4mpeg", {}))
            continue
        if cls == "null_bytes":
            rows.append((media_id, "image", None, "image/x-portable-pixmap", {}))
            continue
        if cls == "dup" and dup_pool:
            payload = dup_pool[int(rng.integers(0, len(dup_pool)))]
            rows.append((media_id, "image", payload, "image/x-dup", {"dup": "1"}))
            continue
        fmt, enc = encoders[int(rng.integers(0, len(encoders)))]
        arr = _image_array(rng)
        payload = enc(arr[:, :, 0] if fmt == "pgm" else arr)
        if cls == "truncated":
            payload = payload[: max(16, len(payload) - int(rng.integers(8, 200)))]
        elif cls == "bad_maxval":
            # 16-bit PPM: a real format, deliberately outside the 8-bit
            # decode contract → decode_ok = False
            h, w = arr.shape[:2]
            payload = b"P6\n%d %d\n65535\n" % (w, h) + bytes(arr.astype(">u2").tobytes())
        elif cls == "bad_bpp":
            # flip the bpp field of a valid BMP to 8 (palette) — header
            # parses, variant is unsupported → decode_ok = False. The
            # payload is a BMP regardless of the drawn fmt, so label it
            # one (decode routes by magic; the mime must not lie).
            fmt = "bmp"
            b = bytearray(encode_bmp(arr))
            b[28:30] = (8).to_bytes(2, "little")
            payload = bytes(b)
        else:  # clean
            dup_pool.append(payload)
        mime = {
            "ppm": "image/x-portable-pixmap",
            "pgm": "image/x-portable-graymap",
            "bmp": "image/bmp",
        }[fmt]
        rows.append((media_id, "image", payload, mime, {}))

    # pinned video rows: every decode-contract class present at EVERY sf
    # (the random mix alone could miss one at the 40-row floor)
    vrng = np.random.default_rng(seed + 1)
    clean_420 = encode_y4m(_video_frames(vrng), fps=(30, 1))
    clean_mono = encode_y4m(_video_frames(vrng), fps=(24, 1), chroma="mono")
    truncated = clean_420[: len(clean_420) - 16]
    bad_chroma = clean_mono.replace(b" Cmono\n", b" C444\n", 1)
    for tag, payload in (
        ("v420", clean_420), ("vmono", clean_mono),
        ("vtrunc", truncated), ("vchroma", bad_chroma),
    ):
        rows.append((f"m_{tag}", "video", payload, "video/x-yuv4mpeg", {}))
    return pd.DataFrame(
        rows, columns=["media_id", "modality", "bytes", "mime", "meta"]
    )


def write_media_parquet(path: str, sf: float, seed: int = SEED) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .generator import _payload_row_group_rows

    table = pa.Table.from_pandas(generate_media(sf, seed), preserve_index=False)
    # byte-bounded row groups, same ingest discipline as the clips
    # corpus (see generator._payload_row_group_rows)
    pq.write_table(table, path, row_group_size=_payload_row_group_rows(table))
