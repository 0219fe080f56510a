"""Multimodal family: binary payloads through Arrow map passes — feature
extraction with a quarantine channel, JPEG (baseline, 4:2:0 / 4:2:2,
EXIF orientation) and Y4M video round trips through the engine's own
codecs, WAV spectral features, and perceptual-hash image near-dup dedup.

Every corpus is a pure function of ``doc_id``, so the oracle predicts the
outcome analytically. The pHash corpus plants, for every 10th document, a
256×256 grayscale "photo" plus four variants a real crawl produces
(brightness shift, gamma, down-up resample, 1-px border crop): pHash +
Hamming-≤6 blocking + connected components must recover exactly
{base, 4 variants} per family with the base as canonical. The mixed
corpus encodes the same families as PNG / JPEG-420 / JPEG-422 / WebP /
GIF, so they must collapse across the format boundary.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arrow
from ..operators.multimodal import as_media, extract_features
from .queries import _t, query


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS digest
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "utf-8")
    )
    media = as_media(docs, "doc_id", "payload", "text/plain", "source")
    return extract_features(media)


def _media_frame(docs: DataFrame, mime: str, encode) -> DataFrame:
    """The ``decode_features`` input for synthesized media: one payload
    ``encode(doc_id, text)`` per row of ``docs`` (``text`` is None when
    ``docs`` carries no text column), labelled ``mime``, with the
    dimensions and duration left for the decoder to report. A narrow
    Arrow map pass — payload bytes never shuffle."""

    def synth(b):
        texts = b["text"] if "text" in b else [None] * len(b)
        return {
            "media_id": b.arrow("doc_id"),
            "payload": [
                encode(int(did), text) for did, text in zip(b["doc_id"], texts)
            ],
        }

    return arrow.map_batches(
        docs, synth, "media_id long, payload binary"
    ).select(
        "media_id",
        "payload",
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit("synth").alias("source"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


@query(
    "multimodal_quarantine",
    # The synthesized corpus is a pure function of doc_id: every 5th doc
    # carries a CORRUPT payload (raw text bytes labeled audio/wav), the
    # rest carry real silent PCM WAVs whose channel count / duration are
    # doc_id formulas — so DuckDB can predict the whole decode-or-
    # quarantine outcome analytically, including the exact error string
    # the wav codec raises for a bad RIFF header.
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                ELSE 10 + doc_id % 40 END AS duration_ms,
           CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 0.0 END AS mean_intensity,
           CASE WHEN doc_id % 5 = 0
                THEN 'ValueError: not a WAV payload (bad RIFF header)'
                END AS error
    FROM documents
    """,
)
def q_multimodal_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-media quarantine channel (VERDICT r3 task #2): decode a
    mixed good/corrupt media corpus with ``on_error='quarantine'`` — good
    rows yield real decoded WAV features (stdlib codec), corrupt rows
    divert to the error side channel instead of failing the Arrow task.
    Payload synthesis and decode are both narrow Arrow map passes —
    payload bytes never shuffle."""
    from ..functions.codecs import encode_wav
    from ..operators.multimodal import decode_features

    def encode(did: int, text: str | None) -> bytes:
        if did % 5 == 0:
            return (text or "").encode("utf-8")
        ch = 1 + did % 2
        n_frames = 8 * (10 + did % 40)  # rate 8000 → ms
        return encode_wav([0] * (n_frames * ch), channels=ch)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    media = _media_frame(docs, "audio/wav", encode)
    return decode_features(media, on_error="quarantine").select(
        "media_id", "channels", "duration_ms", "mean_intensity", "error"
    )


@query(
    "multimodal_jpeg_roundtrip",
    # Constant-gray JPEGs decode BIT-EXACTLY through the real baseline
    # codec: a flat 8×8 block has only a DC coefficient (v−128)·8, whose
    # quantizer step is 16, so for EVEN gray levels quantize→dequantize→
    # IDCT reproduces v exactly — DuckDB can therefore predict the
    # decoded mean intensity (and dimensions) analytically from doc_id.
    oracle="""
    SELECT doc_id AS media_id,
           8 * (1 + doc_id % 3) AS width,
           8 * (1 + doc_id % 2) AS height,
           1 AS channels,
           CAST(20 + 2 * (doc_id % 100) AS DOUBLE) AS mean_intensity
    FROM documents
    """,
)
def q_multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-pixel JPEG decode under the oracle gate (r4 — the codec is
    real, not a header walk): synthesize a flat grayscale JPEG per doc
    (gray = 20 + 2·(doc_id % 100), dims 8·(1+doc_id%3) × 8·(1+doc_id%2))
    with `functions.jpeg_codec.encode_jpeg`, decode it back through the
    `decode_features` Arrow stage, and emit the decoded dimensions and
    mean intensity. r5: odd doc_ids encode PROGRESSIVE (SOF2, DC +
    spectral-AC scans) so the oracle now also gates the progressive
    decode path — flat blocks reconstruct bit-identically under either
    coding. Both synthesis and decode are narrow Arrow map passes —
    payload bytes never shuffle, so the pattern is scan-speed linear at
    any corpus size."""
    from ..functions.jpeg_codec import encode_jpeg
    from ..operators.multimodal import decode_features

    def encode(did: int, _text) -> bytes:
        w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
        v = 20 + 2 * (did % 100)
        return encode_jpeg(
            w, h, 1,
            np.full((h, w), v, dtype=np.uint8).tobytes(),
            progressive=bool(did % 2),
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = _media_frame(docs, "image/jpeg", encode)
    return decode_features(media).select(
        "media_id", "width", "height", "channels", "mean_intensity"
    )


@query(
    "multimodal_video_frames",
    # Flat-luma frames decode exactly: frame f of doc d is the constant
    # 20 + d%100 + 5f, so the sampled-frame mean is analytic —
    # 20 + d%100 + 2.5*(n-1) for n = 1 + d%4 frames at 25 fps (40 ms
    # per frame). The oracle predicts every decoded field from doc_id.
    oracle="""
    SELECT doc_id AS media_id,
           16 AS width,
           8 + (doc_id % 3) * 4 AS height,
           CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS channels,
           CAST(20 + doc_id % 100 + 2.5 * (doc_id % 4) AS DOUBLE)
             AS mean_intensity,
           CAST((1 + doc_id % 4) * 40 AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-pixel VIDEO decode under the oracle gate (r5): synthesize a
    real YUV4MPEG2 clip per doc (n = 1+doc%4 flat-luma frames at 25 fps,
    16 × (8 + 4·(doc%3)), frame f luma = 20 + doc%100 + 5f) with
    `functions.codecs.encode_y4m`, decode it back through the
    `decode_features` Arrow stage — every emitted field (dimensions,
    channel count, frame-sampled mean luma, fps-derived duration) is an
    actual decoded value. Synthesis and decode are narrow Arrow map
    passes; payload bytes never shuffle."""
    from ..functions.codecs import encode_y4m
    from ..operators.multimodal import decode_features

    def encode(did: int, _text) -> bytes:
        w, h = 16, 8 + (did % 3) * 4
        frames = [bytes([20 + did % 100 + 5 * f]) * (w * h)
                  for f in range(1 + did % 4)]
        return encode_y4m(w, h, frames,
                          colorspace=("mono", "420", "444")[did % 3])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = _media_frame(docs, "video/y4m", encode)
    # the DECODED channel count is part of the gate: mono clips report
    # 1 channel, chroma-carrying 420/444 report 3 (neutral chroma keeps
    # the luma mean identical across colorspaces)
    return decode_features(media).select(
        "media_id",
        "width",
        "height",
        "channels",
        "mean_intensity",
        "duration_ms",
    )


_AU_N, _AU_SR, _AU_AMP = 1024, 8000, 16000


_AUDIO_ORACLE = f"""
    WITH k AS (SELECT doc_id, 10 + doc_id % 50 AS k FROM documents),
    rms AS (
      SELECT doc_id, k,
             sqrt(list_sum(list_transform(range({_AU_N}),
               t -> CAST(((t * k % {_AU_N}) * 2 * {_AU_AMP} // {_AU_N} - {_AU_AMP})
                    * ((t * k % {_AU_N}) * 2 * {_AU_AMP} // {_AU_N} - {_AU_AMP}) AS DOUBLE)))
               / {_AU_N}) / 32768.0 AS r
      FROM k
    )
    SELECT doc_id AS media_id,
           {_AU_SR} AS sample_rate,
           {_AU_N} AS n_samples,
           CAST(k AS BIGINT) AS dominant_bin,
           k * {_AU_SR}.0 / {_AU_N} AS dominant_freq_hz,
           round(r, 4) AS rms
    FROM rms
"""


@query("audio_spectral_features", oracle=_AUDIO_ORACLE)
def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio DSP under an exact oracle: synthesize a 16-bit PCM WAV
    per document (sawtooth at bin k = 10 + doc%50 — INTEGER-exact
    formula, so the oracle regenerates identical samples in SQL),
    decode it back with the stdlib `wave` codec, then numpy rFFT →
    dominant non-DC bin + RMS. The FFT runs on actually-decoded bytes;
    the oracle predicts the dominant bin analytically (sawtooth
    fundamental) and recomputes RMS from the same integer samples.
    one Arrow map pass end-to-end — payload bytes never shuffle; at
    100 TB this is the feature-extract stage of an audio corpus scan."""
    import io as _io
    import wave as _wave

    import numpy as _np

    from ..functions.codecs import encode_wav
    from ..session import fan_out

    # fan_out (r10): the WAV synth+decode+rFFT pass ran as ONE task on
    # the single-row-group scan (1.2 s serialized at sf0.1); no-op at
    # real scale
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id"))

    schema = (
        "media_id long, sample_rate int, n_samples int, dominant_bin long, "
        "dominant_freq_hz double, rms double"
    )
    names = [c.split()[0] for c in schema.split(", ")]

    def _synth_and_analyze(b):
        out = []
        for did in b["doc_id"]:
            did = int(did)
            k = 10 + did % 50
            t = _np.arange(_AU_N, dtype=_np.int64)
            s = (t * k % _AU_N) * 2 * _AU_AMP // _AU_N - _AU_AMP
            payload = encode_wav([int(v) for v in s], sample_rate=_AU_SR)
            # decode through the real codec path
            with _wave.open(_io.BytesIO(payload), "rb") as wf:
                sr = wf.getframerate()
                n = wf.getnframes()
                raw = _np.frombuffer(
                    wf.readframes(n), dtype="<i2"
                ).astype(_np.float64)
            spec = _np.abs(_np.fft.rfft(raw / 32768.0))
            dom = int(_np.argmax(spec[1:]) + 1)  # exclude DC
            rms = float(_np.sqrt(_np.mean((raw / 32768.0) ** 2)))
            out.append((did, sr, n, dom, dom * _AU_SR / _AU_N, round(rms, 4)))
        return dict(zip(names, map(list, zip(*out))))

    return arrow.map_batches(docs, _synth_and_analyze, schema)


_IMG = 256  # synthesized image edge; 1-px crop = 0.4 % shift ≤ 6 bits


def _synth_base(doc_id: int) -> np.ndarray:
    """Deterministic 256×256 grayscale 'photo': an 8×8 uniform random
    field (seeded by doc_id) bilinearly upsampled — smooth, low-frequency
    content like real photographs, re-generated identically at any SF."""
    from ..functions.phash import bilinear_resize

    rng = np.random.default_rng((doc_id * 0x9E3779B97F4A7C15) % (2**63))
    f = bilinear_resize(rng.uniform(0.0, 1.0, (8, 8)), _IMG, _IMG)
    f = (f - f.min()) / (f.max() - f.min() + 1e-12)
    # 40..210 range: headroom so the brightness variant never clips
    return (40 + f * 170).astype(np.uint8)


def _synth_family(doc_id: int) -> list[tuple[int, np.ndarray]]:
    """[(variant_idx, pixels)]: 0 = base, 1 = brightness +12,
    2 = gamma 1.08, 3 = down-up resample 96px, 4 = 1-px border crop."""
    from ..functions.phash import bilinear_resize

    base = _synth_base(doc_id)
    bright = np.clip(base.astype(np.int64) + 12, 0, 255).astype(np.uint8)
    gamma = np.clip(
        255.0 * (base.astype(np.float64) / 255.0) ** 1.08, 0, 255
    ).round().astype(np.uint8)
    resamp = np.round(
        bilinear_resize(bilinear_resize(base.astype(np.float64), 96, 96),
                        _IMG, _IMG)
    ).astype(np.uint8)
    crop = np.round(
        bilinear_resize(base[1:-1, 1:-1].astype(np.float64), _IMG, _IMG)
    ).astype(np.uint8)
    return [(0, base), (1, bright), (2, gamma), (3, resamp), (4, crop)]


def _image_corpus(spark: SparkSession, sf_dir: str, encode_family) -> DataFrame:
    """(media_id, phash) over the planted image families: every 10th doc
    contributes ``encode_family(family)`` — one payload per variant, where
    ``family`` maps variant index → pixels (`_synth_family`) — and
    media_id = doc_id·10 + position in that list.

    Synthesis, encode, format-sniffed decode and pHash run per payload
    inside ONE Python stage, so the payload bytes never cross the
    JVM↔Python boundary into a second worker pool; 8 B/row leaves the
    stage instead of ~40 KB/row (phash_frame parity pinned in
    tests/test_phash.py)."""
    from ..functions.phash import decode_gray, phash64
    from ..session import fan_out

    docs = fan_out(
        _t(spark, sf_dir, "documents").select("doc_id").filter(
            F.col("doc_id") % 10 == 0
        )
    )

    def gen(b):
        ids, hashes = [], []
        for did in b["doc_id"]:
            family = dict(_synth_family(int(did)))
            for v, payload in enumerate(encode_family(family)):
                ids.append(int(did) * 10 + v)
                hashes.append(phash64(decode_gray(payload)))
        return {"media_id": ids, "phash": hashes}

    return arrow.map_batches(docs, gen, "media_id long, phash long")


def _phash_dedup(spark: SparkSession, sf_dir: str, encode_family) -> DataFrame:
    """(media_id, canonical_id) for `_image_corpus`: pigeonhole-banded
    Hamming-≤6 pair join (lossless blocking: (7,1) single chunks below
    30 k images, (9,3) combination keys above — NEVER an all-pairs
    product) → min-label connected components."""
    from ..functions.phash import PHASH_BITS
    from ..operators.dedup import cluster_pairs, hamming_pairs
    from ..session import track_persist

    # persist the (id, fingerprint) frame — 16 B/row, the thing a real
    # pipeline materializes as a column. Its lineage is the expensive
    # map-only synth→encode→decode→DCT chain, consumed by the scheme
    # count, both sides of the band join, and the final canonical join;
    # without the persist each consumer replays the codec work.
    fps = track_persist(_image_corpus(spark, sf_dir, encode_family))
    pairs = hamming_pairs(
        fps, "media_id", "phash", max_distance=6, num_bits=PHASH_BITS
    )
    clusters = cluster_pairs(pairs)
    # defensive: an image whose every variant-edge missed (cannot happen
    # inside the measured envelope) would be its own canonical, not a
    # dropped row
    return (
        fps.select("media_id")
        .join(clusters, fps.media_id == clusters.doc_id, "left")
        .select(
            "media_id",
            F.coalesce("canonical_id", "media_id").alias("canonical_id"),
        )
    )


@query(
    "multimodal_phash_dedup",
    # The oracle predicts the full dedup outcome from the id scheme:
    # each family {doc_id·10 + 0..4} collapses to canonical doc_id·10.
    # Spark must RECOVER that structure from pixels alone — decode,
    # pHash, banded Hamming join, connected components.
    oracle="""
    SELECT doc_id * 10 + v AS media_id, doc_id * 10 AS canonical_id
    FROM documents, (SELECT unnest([0, 1, 2, 3, 4]) AS v)
    WHERE doc_id % 10 = 0
    """,
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup dedup (VERDICT r6 #5): five real PNGs per
    contributing doc (the base and its four variants) → PNG decode →
    pHash (DCT 8×8, median-thresholded, 63 bits) → `_phash_dedup`. Scale
    posture: hashing is map-only over payload partitions; the pair join
    is keyed on band values with the exact-Hamming filter BEFORE the
    dedup shuffle; the only per-image shuffled state is (id, 63-bit
    fingerprint)."""
    from ..functions.codecs import encode_png

    def encode_family(family):
        return [
            encode_png(_IMG, _IMG, 1, family[v].tobytes()) for v in range(5)
        ]

    return _phash_dedup(spark, sf_dir, encode_family)


@query(
    "multimodal_jpeg420_roundtrip",
    # Gray-VALUED 3-channel JPEGs decode bit-exactly through the
    # subsampled pipeline: r=g=b=v gives Cb=Cr=128.0 exactly (the
    # BT.601 chroma coefficients sum to zero), so both chroma planes
    # are constant 128 — box-decimation, DCT (DC-only), quantization
    # (0), and bilinear upsample all preserve that exactly — and the
    # luma plane is constant v with DC step (v−128)/2, exact for even
    # v. Dimensions are NOT MCU-multiples, so edge-padded partial MCUs
    # and the crop-then-upsample geometry are on the gated path.
    oracle="""
    SELECT doc_id AS media_id,
           12 + doc_id % 21 AS width,
           10 + doc_id % 17 AS height,
           3 AS channels,
           CAST(20 + 2 * (doc_id % 100) AS DOUBLE) AS mean_intensity
    FROM documents
    """,
)
def q_multimodal_jpeg420_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chroma-subsampled JPEG decode under the oracle gate (VERDICT r7
    #1): synthesize a constant gray-valued COLOR JPEG per doc — doc_id
    mod 4 selects baseline-4:2:0 / baseline-4:2:2 / PROGRESSIVE-4:2:0 /
    progressive-4:2:2 (late r8: the progressive interleaved-MCU DC scan
    + per-component extent-grid AC scans decode bit-identically to
    baseline, so the same analytic oracle gates all four profiles) — at
    dims (12+id%21) × (10+id%17) (never a multiple of 16 ⇒ every image
    exercises partial MCUs), decode through the `decode_features` Arrow
    stage, and emit decoded dimensions and mean intensity. Same
    scan-speed-linear shape as `multimodal_jpeg_roundtrip`: two narrow
    Arrow map passes, payload bytes never shuffle."""
    from ..functions.jpeg_codec import encode_jpeg
    from ..operators.multimodal import decode_features
    from ..session import fan_out

    def encode(did: int, _text) -> bytes:
        w, h = 12 + did % 21, 10 + did % 17
        v = 20 + 2 * (did % 100)
        return encode_jpeg(
            w, h, 3, np.full((h, w, 3), v, dtype=np.uint8).tobytes(),
            subsampling="420" if did % 2 == 0 else "422",
            progressive=bool(did % 4 >= 2),
            # a third of each profile carries restart intervals (1- or
            # 2-MCU DRI — every image is small, so both values produce
            # many RSTn boundaries incl. partial-MCU edges)
            restart_interval=(0, 1, 2)[did % 3],
            # a fifth of the BASELINE images use the non-interleaved
            # per-component scan layout
            interleave=not (did % 4 < 2 and did % 5 == 4),
        )

    # fan_out: the codec work (Python entropy coder) dominates; spread
    # the synth+decode Arrow passes across every core, not the scan's
    # file-partition count
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = _media_frame(docs, "image/jpeg", encode)
    return decode_features(media).select(
        "media_id", "width", "height", "channels", "mean_intensity"
    )


@query(
    "multimodal_phash_dedup_mixed",
    # Identical analytic oracle shape to multimodal_phash_dedup: the id
    # scheme IS the expected dedup outcome; Spark must recover it from
    # pixels that now cross the PNG/JPEG-420/JPEG-422 format boundary.
    oracle="""
    SELECT doc_id * 10 + v AS media_id, doc_id * 10 AS canonical_id
    FROM documents, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7, 8, 9]) AS v)
    WHERE doc_id % 10 = 0
    """,
)
def q_multimodal_phash_dedup_mixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perceptual near-dup dedup over a mixed-format corpus (VERDICT r7
    #1 done-condition): format-sniffed decode (PNG codec, the r8
    subsampled JPEG decode, the r10 GIF-LZW decode, or the r10 VP8L
    WebP decode) → pHash → `_phash_dedup` — the same plan as
    `multimodal_phash_dedup`, now provably format-blind across all four
    major web image formats. A wrong MCU raster order / chroma geometry
    would perturb the decoded plane globally (≥ the cross-family 22-bit
    floor) and split every family containing a JPEG member; likewise a
    wrong DC-predictor reset at a restart boundary (variant 5 carries
    DRI=8) shifts every post-restart block's level and splits the family.

    Ten images per contributing doc span the format boundary: 0 = base
    PNG, 1 = JPEG-4:2:0 re-encode of base (the 'recompressed by a CDN'
    copy), 2 = JPEG-4:2:2 re-encode of the brightness variant, 3 =
    PROGRESSIVE JPEG-4:2:0 re-encode of the 1-px-crop variant
    (progressive decodes bit-identically to baseline, so its pHash
    distance envelope is the crop+420 one), 4 = gamma-curve PNG, 5 =
    RESTART-INTERVAL (DRI=8) JPEG-4:2:0 re-encode of the down-up-resample
    variant (256 MCUs per image ⇒ 31 RSTn boundaries each; a broken
    predictor reset shifts every post-restart DC level and splits the
    family), 6 = GIF89a re-encode of base (the identity gray palette +
    GIF-LZW round trip is bit-exact, so a correct decoder hashes it 0 bits
    from the base PNG, while a wrong LZW width schedule garbles the plane
    globally), 7 = INTERLACED GIF of the brightness variant (the 4-pass
    row shuffle must be undone — a missing deinterlace scrambles rows and
    splits the family), 8 = lossless WebP (VP8L) of base with
    subtract-green (VP8L is bit-exact, so a correct decoder hashes it 0
    bits from the base PNG; a wrong subtract-green inverse or prefix-code
    read garbles the plane globally; the full predictor/cache/LZ77 matrix
    is pinned by the unit fuzz, while the corpus profile rides the
    vectorized flat-code path on both sides — zero per-pixel Python at
    100 TB), 9 = palette-mode WebP of the gamma variant (the
    color-indexing inverse on the web-graphics path)."""
    from ..functions.codecs import encode_gif, encode_png
    from ..functions.jpeg_codec import encode_jpeg
    from ..functions.webp_codec import encode_webp

    def _jpeg(
        px: np.ndarray, ss: str, progressive: bool = False, ri: int = 0
    ) -> bytes:
        rgb = np.repeat(px[:, :, None], 3, axis=2)
        return encode_jpeg(
            _IMG, _IMG, 3, rgb.tobytes(), subsampling=ss,
            progressive=progressive, restart_interval=ri,
        )

    def encode_family(fam):
        return [
            encode_png(_IMG, _IMG, 1, fam[0].tobytes()),
            _jpeg(fam[0], "420"),
            _jpeg(fam[1], "422"),
            _jpeg(fam[4], "420", progressive=True),
            encode_png(_IMG, _IMG, 1, fam[2].tobytes()),
            _jpeg(fam[3], "420", ri=8),
            # flat-code LZW: vectorized literal emission + the vectorized
            # decode fast path — same decoded pixels (lossless either way,
            # parity-tested in test_gif.py), ~10× less Python per image;
            # width-bump/clear schedule and interlace still exercised
            encode_gif(_IMG, _IMG, 1, fam[0].tobytes(), compress=False),
            encode_gif(_IMG, _IMG, 1, fam[1].tobytes(),
                       interlace=True, compress=False),
            encode_webp(_IMG, _IMG, 1, fam[0].tobytes(),
                        subtract_green=True, use_lz77=False),
            # a gray plane has <= 256 distinct colors by construction, so
            # palette mode is always legal
            encode_webp(_IMG, _IMG, 1, fam[2].tobytes(),
                        palette=True, use_lz77=False),
        ]

    return _phash_dedup(spark, sf_dir, encode_family)


# Stored 16×24 block-value grid: B[by][bx] = 20 + 40·(3·by + bx) +
# 2·(doc%2), even values ⇒ bit-exact decode. After orienting upright the
# top-left / bottom-right pixels land on known corner blocks — the CASE
# tables in the oracle encode exactly those (3·by + bx) indices.


@query(
    "multimodal_exif_orientation",
    oracle="""
    WITH p AS (
      SELECT doc_id, 1 + doc_id % 8 AS o, 2 * (doc_id % 2) AS jit
      FROM documents
    )
    SELECT doc_id AS media_id,
           CASE WHEN o <= 4 THEN 24 ELSE 16 END AS width,
           CASE WHEN o <= 4 THEN 16 ELSE 24 END AS height,
           20 + 40 * (CASE o WHEN 1 THEN 0 WHEN 2 THEN 2 WHEN 3 THEN 5
                             WHEN 4 THEN 3 WHEN 5 THEN 0 WHEN 6 THEN 3
                             WHEN 7 THEN 5 ELSE 2 END) + jit AS top_left,
           20 + 40 * (CASE o WHEN 1 THEN 5 WHEN 2 THEN 3 WHEN 3 THEN 0
                             WHEN 4 THEN 2 WHEN 5 THEN 5 WHEN 6 THEN 2
                             WHEN 7 THEN 0 ELSE 3 END) + jit AS bottom_right
    FROM p
    """,
)
def q_multimodal_exif_orientation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXIF-orientation gate: synthesize a 24×16 six-block constant JPEG
    per doc with orientation tag 1 + doc%8, decode through decode_jpeg,
    and emit the ORIENTED dimensions plus the top-left / bottom-right
    luma — an analytic function of (orientation, doc parity) that fails
    for any wrong flip axis, rotation direction, or missed dim swap.
    Two narrow Arrow map passes; payloads never shuffle."""
    from ..functions.jpeg_codec import decode_jpeg, encode_jpeg
    from ..session import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id"))

    def _run(b):
        ids, ws, hs, tls, brs = [], [], [], [], []
        for did in b["doc_id"]:
            did = int(did)
            o = 1 + did % 8
            jit = 2 * (did % 2)
            g = np.zeros((16, 24), dtype=np.uint8)
            for by in range(2):
                for bx in range(3):
                    g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        20 + 40 * (3 * by + bx) + jit
                    )
            rgb = np.repeat(g[:, :, None], 3, axis=2)
            d = decode_jpeg(
                encode_jpeg(24, 16, 3, rgb.tobytes(), exif_orientation=o)
            )
            a = np.frombuffer(d["pixels"], np.uint8).reshape(
                d["height"], d["width"], 3
            )
            ids.append(did)
            ws.append(d["width"])
            hs.append(d["height"])
            tls.append(int(a[0, 0, 0]))
            brs.append(int(a[-1, -1, 0]))
        return {
            "media_id": ids,
            "width": ws,
            "height": hs,
            "top_left": tls,
            "bottom_right": brs,
        }

    return arrow.map_batches(
        docs,
        _run,
        "media_id long, width int, height int, "
        "top_left int, bottom_right int",
    )
