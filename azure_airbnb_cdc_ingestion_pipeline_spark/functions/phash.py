"""Perceptual image hashing (pHash / dHash) over decoded pixel buffers.

Training-data pipelines dedup images VISUALLY, not byte-wise: a
re-encoded, slightly cropped, brightness-shifted or resampled copy of
the same picture must collapse to one canonical asset. The standard
tool is a perceptual hash — a short fingerprint whose Hamming distance
tracks visual difference — followed by Hamming-radius pair finding
(`operators.dedup.hamming_pairs`, the same pigeonhole-banded blocking
the simhash text path uses; never an all-pairs product).

Kernels here are numpy over Arrow batches (`functions.arrow`); the image
bytes come out of the repo's own PNG codec (`functions.codecs`), so the
whole path — decode → grayscale → resize → DCT → hash — is real, not a
stub. Invariance envelope (measured on the synthetic corpus,
tests/test_phash.py): brightness shift = 0 flipped bits (median-of-AC
construction), global contrast/gain = 0 (positive scaling preserves
coefficient/median order), down-up resample ≤ 2, gamma 1.08 ≤ 4, 1-px
border crop ≤ 6 of 63 bits — vs ≥ 12 bits between DISTINCT images.

pHash (Zauner 2010 construction): bilinear-resize the grayscale plane
to 32×32, 2-D DCT-II, keep the 8×8 low-frequency block, drop the DC
term (brightness), threshold the remaining 63 coefficients at their
median → 63-bit fingerprint in a signed long.

dHash: resize to 9×8, bit = left pixel > right pixel per adjacent
horizontal pair → 64-bit gradient fingerprint. Cheaper, more
crop-sensitive; provided for parity with common curation stacks.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame


def bilinear_resize(img: np.ndarray, nh: int, nw: int) -> np.ndarray:
    """Deterministic bilinear resample (float64, pixel-center aligned).
    Shared by the hash kernels and the test fixtures so 'resize' means
    exactly one thing everywhere."""
    h, w = img.shape
    yy = (np.arange(nh) + 0.5) * h / nh - 0.5
    xx = (np.arange(nw) + 0.5) * w / nw - 0.5
    y0 = np.clip(np.floor(yy).astype(int), 0, h - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x0 = np.clip(np.floor(xx).astype(int), 0, w - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(yy - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xx - x0, 0.0, 1.0)[None, :]
    im = img.astype(np.float64)
    top = im[y0][:, x0] * (1 - wx) + im[y0][:, x1] * wx
    bot = im[y1][:, x0] * (1 - wx) + im[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


_DCT: dict[int, np.ndarray] = {}


def _dct_matrix(n: int = 32) -> np.ndarray:
    if n not in _DCT:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
        m[0] /= np.sqrt(2.0)
        _DCT[n] = m
    return _DCT[n]


#: pHash uses 63 informative bits (the 8×8 DCT block minus DC) — the
#: width `operators.dedup.hamming_pairs` must be told.
PHASH_BITS = 63


def phash64(gray: np.ndarray) -> int:
    """63-bit perceptual hash of a 2-D grayscale array (any size)."""
    g = bilinear_resize(gray.astype(np.float64), 32, 32)
    d = _dct_matrix(32)
    coef = (d @ g @ d.T)[:8, :8].ravel()[1:]  # drop DC → brightness-proof
    med = np.median(coef)
    bits = coef > med
    return int(sum(1 << i for i, b in enumerate(bits) if b))


def dhash64(gray: np.ndarray) -> int:
    """64-bit difference hash: 9×8 resize, horizontal gradient signs."""
    g = bilinear_resize(gray.astype(np.float64), 8, 9)
    bits = (g[:, :-1] > g[:, 1:]).ravel()
    v = int(sum(1 << i for i, b in enumerate(bits) if b))
    return v - (1 << 64) if v >= (1 << 63) else v  # signed-long wrap


def decode_gray(payload: bytes) -> np.ndarray:
    """Grayscale plane from any pixel-decodable payload — format
    sniffed from magic bytes (PNG signature / JPEG SOI), decoded by the
    repo's own codecs (r8: JPEG now includes the baseline 4:2:0/4:2:2
    web profile, so real-world JPEGs reach the perceptual-hash path
    instead of degrading to metadata). ValueError on undecodable bytes;
    NotImplementedError on valid-but-unsupported profiles — same
    detect-and-degrade contract as `operators.multimodal.decode_media`."""
    payload = bytes(payload)
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        from .codecs import decode_png

        img = decode_png(payload)
    elif payload.startswith(b"\xff\xd8"):
        from .jpeg_codec import decode_jpeg

        img = decode_jpeg(payload)
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        from .codecs import decode_gif

        img = decode_gif(payload)  # r10: GIF joins the dedup family
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webp_codec import decode_webp

        # r10: lossless WebP (VP8L) joins the dedup family; lossy VP8
        # raises NotImplementedError inside → degrade, per contract
        img = decode_webp(payload)
    else:
        raise ValueError(
            "not a pixel-decodable payload (PNG/JPEG/GIF/WebP)"
        )
    px = np.frombuffer(bytes(img["pixels"]), dtype=np.uint8).reshape(
        img["height"], img["width"], img["channels"]
    )
    return px.mean(axis=2) if img["channels"] > 1 else px[:, :, 0]


def phash_frame(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    include_dhash: bool = False,
) -> DataFrame:
    """(id, phash [, dhash]) per PNG/JPEG payload (format-sniffed, r8)
    — one Arrow map pass, no shuffle; payload bytes never leave their
    partition. Undecodable payloads raise (route corrupt media through
    `operators.multimodal.decode_features(on_error='quarantine')`
    upstream when the corpus is untrusted)."""
    from .arrow import map_batches

    fields = f"{id_col} long, phash long" + (
        ", dhash long" if include_dhash else ""
    )

    def gen(b) -> dict:
        grays = [decode_gray(p) for p in b[payload_col]]
        out = {id_col: b.arrow(id_col), "phash": [phash64(g) for g in grays]}
        if include_dhash:
            out["dhash"] = [dhash64(g) for g in grays]
        return out

    return map_batches(media.select(id_col, payload_col), gen, fields)
