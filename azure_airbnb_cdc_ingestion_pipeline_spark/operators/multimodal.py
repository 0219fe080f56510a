"""Multimodal column handling: opaque binary payloads + typed metadata.

Charter extension. Media (image/audio/video) is modeled as a `binary`
column plus a metadata struct; heavy per-item work (decode, feature
extraction, resize, frame sampling) runs as Arrow-batched kernels
through `functions.arrow.map_batches` — the engine's one Python path,
~10-100× faster than row-at-a-time UDFs and memory-bounded by the Arrow
batch size.

The codec layer (PIL/ffmpeg/librosa) is NOT available in this container,
so `decode_media` raises NotImplementedError unless the deterministic
fake decoder is requested — the Spark-side plumbing (schema, partition
flow, UDF signature, batch shape) is real and tested either way.

Scale posture: payload bytes never pass through a shuffle — all
extraction is a narrow map over the scan; only the (tiny) extracted
features are aggregated/joined downstream. Partition sizing is governed
by `spark.sql.files.maxPartitionBytes` on the payload files.
"""

from __future__ import annotations

import hashlib
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import arrow

MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
    ]
)


def as_media(
    df: DataFrame, id_col: str, payload_col: str, mime: str, source_col: str
) -> DataFrame:
    """Wrap an id + binary column into the canonical media frame."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.col(source_col).alias("source"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


_IMAGE = ("width", "height", "channels", "mean_intensity")
_FEATURES = (*_IMAGE, "duration_ms")


def _features(decoded: dict[str, Any], *keys: str) -> dict[str, Any]:
    """The five feature fields: ``keys`` read from ``decoded``, the rest
    None."""
    return {f: decoded[f] if f in keys else None for f in _FEATURES}


def decode_media(payload: bytes, mime: str, fake: bool = False) -> dict[str, Any]:
    """Decode one media payload.

    REAL stdlib codecs back two formats (functions/codecs.py): image/png
    (full zlib+filter decode) and audio/wav (PCM via `wave`) — for those,
    the returned width/height/channels/duration/mean_intensity are actual
    decoded values. Other formats need PIL/ffmpeg (absent here) and raise
    NotImplementedError. `fake=True` yields the deterministic digest-based
    stand-in for formats without a codec, keeping plumbing testable."""
    if fake:
        d = hashlib.md5(payload or b"").digest()
        return {
            "width": 1 + d[0] % 64,
            "height": 1 + d[1] % 64,
            "channels": 3,
            "mean_intensity": d[2] / 255.0,
            "duration_ms": None,
        }
    from ..functions import codecs

    if mime == "image/png":
        return _features(codecs.decode_png(payload), *_IMAGE)
    if mime in ("audio/wav", "audio/x-wav"):
        return _features(
            codecs.decode_wav(payload), "channels", "mean_intensity", "duration_ms"
        )
    if mime in ("image/jpeg", "image/jpg"):
        # full pixel decode for the supported profile (baseline —
        # interleaved AND non-interleaved scans — plus progressive
        # Huffman, 4:4:4/4:2:2/4:2:0 subsampling, restart intervals,
        # EXIF orientation — functions/jpeg_codec.py);
        # detect-and-degrade to the SOF header walk for header-only
        # artifacts and the still-unsupported profiles (12-bit,
        # hierarchical, arithmetic coding). Genuinely corrupt bytes
        # still raise ValueError so the quarantine channel keeps
        # routing them.
        from ..functions import jpeg_codec

        try:
            return _features(jpeg_codec.decode_jpeg(payload), *_IMAGE)
        except (jpeg_codec.NoScanData, NotImplementedError):
            pass
        w, h, ncomp = codecs.jpeg_info(payload)
        return _features({"width": w, "height": h, "channels": ncomp}, *_IMAGE[:3])
    if mime == "image/gif":
        # full first-frame decode (palette + GIF-LZW, functions/codecs.py
        # r10); animation frames beyond the first are length-walked only
        return _features(codecs.decode_gif(payload), *_IMAGE)
    if mime == "image/webp":
        # full VP8L lossless decode (functions/webp_codec.py, r10);
        # lossy VP8 raises NotImplementedError inside decode_webp →
        # degrade to the container-header walk (dims only), same
        # two-tier contract as unsupported JPEG profiles.
        from ..functions import webp_codec

        try:
            return _features(webp_codec.decode_webp(payload), *_IMAGE)
        except NotImplementedError:
            pass
        return _features(webp_codec.webp_info(payload), "width", "height")
    if mime in ("audio/mpeg", "audio/mp3"):
        # frame-header walk: real channels/duration, no entropy decode
        return _features(codecs.mp3_info(payload), "channels", "duration_ms")
    if mime == "video/mp4":
        # moov box walk: real dimensions + duration, no sample decode
        return _features(
            codecs.mp4_info(payload), "width", "height", "duration_ms"
        )
    if mime in ("video/y4m", "video/x-yuv4mpeg"):
        # FULL raw-frame decode (r5): dimensions, frame count/duration
        # and pixel-level mean luma over sampled frames —
        # functions/codecs.py::decode_y4m. Unsupported colorspaces /
        # interlace raise NotImplementedError (degrade); malformed bytes
        # ValueError (quarantine), same contract as the other codecs.
        return _features(codecs.decode_y4m(payload, sample_every=1), *_FEATURES)
    raise NotImplementedError(
        f"no codec for {mime} in this environment (stdlib codecs cover "
        "image/png, audio/wav and video/y4m fully; image/jpeg baseline+"
        "progressive; audio/mpeg and video/mp4 header-only) — pass "
        "fake=True for the deterministic stub decoder"
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Cheap per-item features over Arrow batches: byte length and content
    digest. Peak memory is one Arrow batch regardless of corpus size."""

    def _extract(b: arrow.Columns) -> dict:
        payloads = b["payload"]
        return {
            "media_id": b.arrow("media_id"),
            "byte_len": [len(p) if p is not None else 0 for p in payloads],
            "digest": [
                hashlib.md5(p).hexdigest() if p is not None else None
                for p in payloads
            ],
        }

    return arrow.map_batches(media, _extract, FEATURE_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)

#: decode_features(on_error="quarantine") schema: features + a per-row
#: error column (NULL for successfully decoded rows).
DECODED_Q_SCHEMA = T.StructType(
    list(DECODED_SCHEMA.fields) + [T.StructField("error", T.StringType())]
)

def decode_features(
    media: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """Per-item decode over Arrow batches: each row decoded with the codec
    for ITS meta.mime (real stdlib codecs for image/png and audio/wav;
    `fake=True` for formats without one). The plan is a narrow map over
    the scan — payloads never shuffle; only the small feature rows do.

    ``on_error='quarantine'`` mirrors the reference's rejected-rows side
    channel (/root/reference/dataflow/BookingDataTransformation.json:31-34)
    at the media layer: a corrupt or unsupported payload becomes a row
    with NULL features and a non-null ``error`` column instead of failing
    the whole task — at 100 TB one truncated JPEG must not kill a
    multi-hour stage. Catches the codec contract errors only (ValueError
    for malformed payloads, NotImplementedError for formats without a
    codec); genuine bugs still raise. Pair with
    :func:`split_quarantine` for the two-stream shape."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be raise|quarantine, got {on_error!r}")
    quarantine = on_error == "quarantine"

    def _decode_row(b, m) -> dict[str, Any]:
        if not quarantine:
            return {**decode_media(b, m, fake=fake), "error": None}
        try:
            return {**decode_media(b, m, fake=fake), "error": None}
        except (ValueError, NotImplementedError) as e:
            return {**_features({}), "error": f"{type(e).__name__}: {e}"}

    schema = DECODED_Q_SCHEMA if quarantine else DECODED_SCHEMA

    def _decode(b: arrow.Columns) -> dict:
        rows = [_decode_row(p, m) for p, m in zip(b["payload"], b["mime"])]
        out = {f: [r[f] for r in rows] for f in schema.names[1:]}
        return {"media_id": b.arrow("media_id"), **out}

    slim = media.select("media_id", "payload", F.col("meta.mime").alias("mime"))
    return arrow.map_batches(slim, _decode, schema)


def split_quarantine(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) from a ``decode_features(on_error='quarantine')``
    frame — the media-layer analog of the reference's conditional-split →
    rejected-rows sink (SURVEY §2 S9): good rows drop the error column,
    quarantined rows keep it for the side-channel sink."""
    good = decoded.filter(F.col("error").isNull()).drop("error")
    bad = decoded.filter(F.col("error").isNotNull())
    return good, bad


def sample_frames(
    media: DataFrame, every_ms: int = 1000, fake: bool = True
) -> DataFrame:
    """Frame-sampling plumbing (video → frame rows): each payload fans out
    to ceil(duration/every_ms) synthetic frame records. Real decoder would
    emit actual frame bytes; the flatMap shape (1 → N rows inside one
    Arrow map pass) is what matters for the plan."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_digest", T.StringType()),
        ]
    )

    def _frames(b: arrow.Columns) -> dict:
        out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_digest": []}
        for mid, payload in zip(b["media_id"], b["payload"]):
            if not fake:
                raise NotImplementedError("no video codec in this environment")
            n = 1 + (len(payload or b"") % 4)
            for i in range(n):
                out["media_id"].append(mid)
                out["frame_idx"].append(i)
                out["frame_digest"].append(
                    hashlib.md5((payload or b"") + bytes([i])).hexdigest()
                )
        return out

    return arrow.map_batches(media, _frames, schema)


def resize_media(
    media: DataFrame, width: int, height: int, fake: bool = False
) -> DataFrame:
    """Resize: payload -> resized payload + updated meta. image/png rows
    run the REAL stdlib decode→nearest-neighbor→re-encode path
    (functions/codecs.py); other mimes need PIL/ffmpeg and must use
    `fake=True` (digest stand-in). The Spark plan — narrow Arrow map,
    meta struct rebuild, payload stays executor-side — is identical
    either way."""

    def _resize_one(payload: bytes, mime: str) -> bytes:
        if fake:
            # deterministic stand-in: digest-seeded bytes of the target
            # size's signature
            d = hashlib.md5(
                (payload or b"") + f"{width}x{height}".encode()
            ).digest()
            return d * 4
        if mime == "image/png":
            from ..functions.codecs import resize_png

            return resize_png(payload, width, height)
        raise NotImplementedError(
            f"no resize codec for {mime} — pass fake=True for the stub"
        )

    def _resize(b: arrow.Columns) -> dict:
        metas = b["meta"]
        return {
            **b.append("payload", [
                _resize_one(p, m["mime"]) for p, m in zip(b["payload"], metas)
            ]),
            "meta": [{**m, "width": width, "height": height} for m in metas],
        }

    return arrow.map_batches(media, _resize, media.schema)
