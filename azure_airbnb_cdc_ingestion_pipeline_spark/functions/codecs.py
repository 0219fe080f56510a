"""Pure-stdlib media codecs backing the multimodal decode path.

The container has no PIL/ffmpeg/librosa, but two real formats are fully
decodable with the standard library alone, which is enough to take
`decode_features` / `resize_media` off the fake path end-to-end:

- **PNG** (``zlib`` + ``struct``): complete decoder for 8-bit-depth,
  non-interlaced greyscale / grey+alpha / RGB / RGBA images — IHDR parse,
  IDAT inflate, all five scanline filters (None/Sub/Up/Average/Paeth)
  reversed per the PNG spec — plus a matching encoder and a
  nearest-neighbor resize. Other bit depths / interlacing raise
  NotImplementedError (documented partial codec, loudly).
- **WAV PCM** (``wave``): header + frame decode for 8/16-bit PCM;
  duration, channel count, sample rate, and normalized mean amplitude.

These run inside Arrow-batched kernels (``functions.arrow``; see
operators/multimodal.py) — per-item Python cost is the codec itself, the
Spark plan stays a narrow map with no payload shuffle.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # PNG color type → channel count


def png_info(payload: bytes) -> tuple[int, int, int, int]:
    """Parse the IHDR chunk: (width, height, bit_depth, color_type)."""
    if payload is None or not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG payload (bad signature)")
    if len(payload) < 29:  # r8 fuzz: truncated header leaked struct.error
        raise ValueError("malformed PNG: truncated IHDR")
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        raise ValueError("malformed PNG: first chunk is not IHDR")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", payload[16:29]
    )
    if interlace:
        raise NotImplementedError("interlaced PNG not supported")
    return w, h, depth, color


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> dict:
    """Full decode → {width, height, channels, pixels: bytearray (row-major
    interleaved), mean_intensity}. 8-bit depth only."""
    w, h, depth, color = png_info(payload)
    if depth != 8 or color not in _CHANNELS:
        raise NotImplementedError(
            f"PNG bit depth {depth} / color type {color} not supported"
        )
    channels = _CHANNELS[color]
    # walk chunks, concatenate IDAT
    idat = bytearray()
    off = 8
    while off < len(payload):
        if off + 8 > len(payload):  # r8 fuzz: partial chunk header
            raise ValueError("malformed PNG: truncated chunk header")
        length, ctype = struct.unpack(">I4s", payload[off : off + 8])
        if ctype == b"IDAT":
            idat += payload[off + 8 : off + 8 + length]
        elif ctype == b"IEND":
            break
        off += length + 12  # len + type + data + crc
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # r8 fuzz: corrupt deflate is quarantine,
        raise ValueError(f"malformed PNG: bad IDAT deflate ({exc})") from exc
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("malformed PNG: unexpected IDAT payload size")
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"malformed PNG: unknown filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    mean = (sum(out) / len(out) / 255.0) if out else 0.0
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "pixels": out,
        "mean_intensity": mean,
    }


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode row-major interleaved 8-bit pixels (filter 0 scanlines)."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def resize_png(payload: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resample, re-encoded as PNG."""
    img = decode_png(payload)
    w, h, c, px = img["width"], img["height"], img["channels"], img["pixels"]
    out = bytearray(new_w * new_h * c)
    for y in range(new_h):
        sy = min(y * h // new_h, h - 1)
        for x in range(new_w):
            sx = min(x * w // new_w, w - 1)
            src = (sy * w + sx) * c
            dst = (y * new_w + x) * c
            out[dst : dst + c] = px[src : src + c]
    return encode_png(new_w, new_h, c, bytes(out))


def decode_wav(payload: bytes) -> dict:
    """Decode PCM WAV → {channels, sample_rate, n_frames, duration_ms,
    mean_intensity (normalized mean |amplitude|)}. 8/16-bit PCM."""
    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (bad RIFF header)")
    with wave.open(io.BytesIO(payload), "rb") as wf:
        channels = wf.getnchannels()
        rate = wf.getframerate()
        n_frames = wf.getnframes()
        width = wf.getsampwidth()
        frames = wf.readframes(n_frames)
    if width == 2:
        n = len(frames) // 2
        samples = struct.unpack(f"<{n}h", frames[: n * 2])
        mean = (sum(abs(s) for s in samples) / n / 32768.0) if n else 0.0
    elif width == 1:  # unsigned 8-bit, 128-centered
        mean = (
            sum(abs(b - 128) for b in frames) / len(frames) / 128.0
            if frames
            else 0.0
        )
    else:
        raise NotImplementedError(f"WAV sample width {width} not supported")
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_frames": n_frames,
        "duration_ms": int(n_frames * 1000 / rate) if rate else 0,
        "mean_intensity": mean,
    }


def encode_wav(
    samples: list[int], channels: int = 1, sample_rate: int = 8000
) -> bytes:
    """Encode 16-bit PCM samples (interleaved if multichannel)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


JPEG_SIG = b"\xff\xd8"

# SOF (start-of-frame) markers carrying image dimensions. C4=DHT, C8=JPG
# extension, CC=DAC are structural markers in the same range — not frames.
_JPEG_SOF = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}


def jpeg_info(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from a JPEG's SOF header — a pure marker
    walk (segment lengths are explicit), no entropy decode. This is the
    detect-and-degrade path for the codec-less container: dimensions and
    channel count are REAL, pixel decode stays behind NotImplementedError
    (a baseline-JPEG IDCT in pure Python would be both heavy and slow
    inside an Arrow worker)."""
    if payload is None or not payload.startswith(JPEG_SIG):
        raise ValueError("not a JPEG payload (bad SOI marker)")
    i, n = 2, len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError(f"malformed JPEG: expected marker at {i}")
        marker = payload[i + 1]
        if marker == 0xFF:  # spec-valid 0xFF fill byte before a marker
            i += 1
            continue
        if (
            marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7
        ):  # SOI / TEM / RSTn: bare markers, no length field
            i += 2
            continue
        if marker == 0xD9:  # EOI before any SOF
            break
        seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        if marker in _JPEG_SOF:
            if i + 4 + 6 > n:
                raise ValueError("malformed JPEG: truncated SOF segment")
            _precision, h, w, ncomp = struct.unpack(
                ">BHHB", payload[i + 4 : i + 10]
            )
            return w, h, ncomp
        i += 2 + seg_len
    raise ValueError("malformed JPEG: no SOF marker found")


def encode_jpeg_header(
    width: int, height: int, channels: int = 3
) -> bytes:
    """Minimal structurally-valid JPEG prefix (SOI + APP0 + SOF0 + EOI)
    for tests — parseable by jpeg_info (and any header reader), carries
    no scan data."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = struct.pack(">BHHB", 8, height, width, channels)
    sof += b"".join(
        struct.pack(">BBB", c + 1, 0x11, 0) for c in range(channels)
    )
    return (
        JPEG_SIG
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
        + b"\xff\xd9"
    )


# -- MP3 / MP4 header metadata (detect-and-degrade, like jpeg_info) ---------

# MPEG-1 Layer III frame-header tables
_MP3_BITRATES = [
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0,
]  # kbps; 0 = free/bad
_MP3_RATES = [44100, 48000, 32000, 0]


def mp3_info(payload: bytes) -> dict:
    """{channels, sample_rate, bitrate_kbps, duration_ms} from the first
    MPEG-1 Layer III frame header (ID3v2 tag skipped). Duration is the
    CBR estimate audio_bytes·8/bitrate — exact for constant-bitrate
    files, approximate for VBR (a full frame walk would need the whole
    payload; header-only is the point here). No entropy decode."""
    if payload is None or len(payload) < 10:
        raise ValueError("not an MP3 payload (too short)")
    i = 0
    if payload[:3] == b"ID3":  # ID3v2: 10-byte header + syncsafe size
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        i = 10 + size
    n = len(payload)
    saw_candidate = False
    while i + 4 <= n:
        # resync like a real MP3 parser: a false sync (stray 0xFF 0xEx in
        # pre-frame junk or a wrong ID3 size field) advances the scan
        # instead of aborting
        if not (payload[i] == 0xFF and (payload[i + 1] & 0xE0) == 0xE0):
            i += 1
            continue
        b1, b2, b3 = payload[i + 1], payload[i + 2], payload[i + 3]
        version = (b1 >> 3) & 0x3  # 3 = MPEG-1
        layer = (b1 >> 1) & 0x3  # 1 = Layer III
        bitrate = _MP3_BITRATES[(b2 >> 4) & 0xF]
        rate = _MP3_RATES[(b2 >> 2) & 0x3]
        if version != 3 or layer != 1:
            saw_candidate = True
            i += 1
            continue
        if not bitrate or not rate:
            i += 1
            continue
        channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
        audio_bytes = n - i
        return {
            "channels": channels,
            "sample_rate": rate,
            "bitrate_kbps": bitrate,
            "duration_ms": int(audio_bytes * 8 / bitrate),  # kbps → ms
        }
    if saw_candidate:
        raise NotImplementedError(
            "only MPEG-1 Layer III frame headers are parsed"
        )
    raise ValueError("not an MP3 payload (no valid frame sync)")


def encode_mp3_header(
    duration_ms: int, bitrate_kbps: int = 128, channels: int = 2
) -> bytes:
    """Minimal MP3 prefix (one CBR frame header + zero padding sized to
    the target duration) for tests — parseable by mp3_info."""
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    mode = 3 if channels == 1 else 0
    hdr = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (0 << 2), mode << 6]
    )  # MPEG-1 L3, 44.1 kHz
    total = max(4, int(duration_ms * bitrate_kbps / 8))
    return hdr + b"\x00" * (total - 4)


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for ISO-BMFF boxes in a range."""
    i = start
    while i + 8 <= end:
        size, btype = struct.unpack(">I4s", buf[i : i + 8])
        hdr = 8
        if size == 1 and i + 16 <= end:  # 64-bit largesize
            size = struct.unpack(">Q", buf[i + 8 : i + 16])[0]
            hdr = 16
        elif size == 0:  # box extends to end
            size = end - i
        if size < hdr:
            raise ValueError("malformed MP4: box smaller than its header")
        yield btype, i + hdr, min(i + size, end)
        i += size


def mp4_info(payload: bytes) -> dict:
    """{width, height, duration_ms} from the moov box — mvhd gives
    timescale+duration, the first video tkhd gives 16.16-fixed
    dimensions. A pure box walk (sizes are explicit); no sample decode."""
    if payload is None or len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (no ftyp box)")
    try:
        return _mp4_info_walk(payload)
    except (struct.error, IndexError) as e:
        # struct.error: truncated box body; IndexError: empty mvhd/tkhd
        # body (``payload[is_]`` version probe past the end). Both are
        # invalid payloads → the documented ValueError contract that
        # decode_media's quarantine path relies on.
        raise ValueError(f"malformed MP4: truncated box ({e})") from e


def _mp4_info_walk(payload: bytes) -> dict:
    duration_ms = width = height = None
    for btype, s, e in _mp4_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ityp, is_, ie in _mp4_boxes(payload, s, e):
            if ityp == b"mvhd":
                ver = payload[is_]
                if ver == 1:
                    scale = struct.unpack(">I", payload[is_ + 20 : is_ + 24])[0]
                    dur = struct.unpack(">Q", payload[is_ + 24 : is_ + 32])[0]
                else:
                    scale = struct.unpack(">I", payload[is_ + 12 : is_ + 16])[0]
                    dur = struct.unpack(">I", payload[is_ + 16 : is_ + 20])[0]
                if scale:
                    duration_ms = int(dur * 1000 / scale)
            elif ityp == b"trak":
                for ttyp, ts, te in _mp4_boxes(payload, is_, ie):
                    if ttyp != b"tkhd":
                        continue
                    off = 88 if payload[ts] == 1 else 76
                    w, h = struct.unpack(
                        ">II", payload[ts + off : ts + off + 8]
                    )
                    if w and h and width is None:  # first visual track
                        width, height = w >> 16, h >> 16
    if duration_ms is None:
        raise ValueError("malformed MP4: no mvhd box in moov")
    return {"width": width, "height": height, "duration_ms": duration_ms}


def encode_mp4_header(
    width: int, height: int, duration_ms: int, timescale: int = 1000
) -> bytes:
    """Minimal ftyp+moov(mvhd+trak(tkhd)) prefix for tests — parseable
    by mp4_info; carries no media data."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I4s", len(body) + 8, btype) + body

    mvhd = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, int(duration_ms * timescale / 1000))
        + b"\x00" * 80  # rate/volume/reserved/matrix/predefines/next id
    )
    tkhd = (
        b"\x00\x00\x00\x07"  # version 0 + enabled flags
        + struct.pack(">IIII", 0, 0, 1, 0)  # ctime, mtime, track, reserved
        + struct.pack(">I", int(duration_ms * timescale / 1000))
        + b"\x00" * 52  # reserved/layer/group/volume/matrix
        + struct.pack(">II", width << 16, height << 16)
    )
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


# --- YUV4MPEG2 (.y4m) — REAL raw-frame video codec (r5) ------------------
# The uncompressed interchange format of the ffmpeg/x264 toolchain: a
# text header, then one "FRAME\n" + planar YUV payload per frame. Full
# decode (every luma sample) needs nothing beyond the stdlib + numpy, so
# this closes the "video decode is header-only" gap the way PNG/WAV did
# for image/audio: width/height/frame count/duration AND pixel-level
# mean intensity are actual decoded values, and frame SAMPLING (every
# k-th frame) exercises the batch shape a real video featurizer uses.

_Y4M_MAGIC = b"YUV4MPEG2 "


def encode_y4m(
    width: int,
    height: int,
    frames: list[bytes],
    fps_num: int = 25,
    fps_den: int = 1,
    colorspace: str = "mono",
) -> bytes:
    """Encode luma planes as YUV4MPEG2. ``frames``: one width*height
    Y-plane per frame; for '420'/'444' neutral (128) chroma planes are
    appended, so gray content round-trips through any colorspace."""
    if colorspace not in ("mono", "420", "444"):
        raise NotImplementedError(f"colorspace {colorspace!r} not supported")
    tag = {"mono": "mono", "420": "420jpeg", "444": "444"}[colorspace]
    out = bytearray(
        f"YUV4MPEG2 W{width} H{height} F{fps_num}:{fps_den} Ip A1:1 "
        f"C{tag}\n".encode()
    )
    chroma = b""
    if colorspace == "420":
        chroma = b"\x80" * ((width // 2) * (height // 2) * 2)
    elif colorspace == "444":
        chroma = b"\x80" * (width * height * 2)
    for y in frames:
        if len(y) != width * height:
            raise ValueError("frame size does not match W*H")
        out += b"FRAME\n" + y + chroma
    return bytes(out)


def decode_y4m(payload: bytes, sample_every: int = 1) -> dict:
    """Decode a YUV4MPEG2 stream: dimensions, frame count, duration from
    the fps header, and the mean luma over every ``sample_every``-th
    frame (frame sampling — feature extraction rarely needs every
    frame). ValueError on malformed/truncated bytes (quarantine);
    NotImplementedError on valid-but-unsupported colorspaces/interlace
    (degrade)."""
    import numpy as np

    if payload is None or not payload.startswith(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("malformed y4m: unterminated header")
    width = height = None
    fps_num, fps_den = 25, 1
    cspace = "420jpeg"  # spec default when C is absent
    for tok in payload[len(_Y4M_MAGIC):nl].split(b" "):
        if not tok:
            continue
        key, val = tok[:1], tok[1:]
        try:
            if key == b"W":
                width = int(val)
            elif key == b"H":
                height = int(val)
            elif key == b"F":
                num, den = val.split(b":")
                fps_num, fps_den = int(num), int(den)
            elif key == b"C":
                cspace = val.decode("ascii", "replace")
            elif key == b"I" and val not in (b"p", b"?"):
                raise NotImplementedError("interlaced y4m not supported")
        except (ValueError, UnicodeDecodeError) as exc:
            if isinstance(exc, ValueError):
                raise ValueError(f"malformed y4m header token {tok!r}") from exc
            raise
    if not width or not height or width < 0 or height < 0:
        raise ValueError("malformed y4m: missing/invalid W or H")
    if fps_num <= 0 or fps_den <= 0:
        raise ValueError("malformed y4m: invalid frame rate")
    ysize = width * height
    if cspace.startswith("420"):
        fsize, nch = ysize + 2 * ((width // 2) * (height // 2)), 3
    elif cspace == "444":
        fsize, nch = 3 * ysize, 3
    elif cspace == "mono":
        fsize, nch = ysize, 1
    else:
        raise NotImplementedError(f"y4m colorspace {cspace!r} not supported")
    pos, n_frames = nl + 1, 0
    luma_sum, luma_n = 0.0, 0
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            raise ValueError("malformed y4m: expected FRAME marker")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("malformed y4m: unterminated FRAME header")
        data = fnl + 1
        if data + fsize > len(payload):
            raise ValueError("malformed y4m: truncated frame data")
        if n_frames % max(1, sample_every) == 0:
            y = np.frombuffer(payload[data : data + ysize], dtype=np.uint8)
            luma_sum += float(y.sum())
            luma_n += ysize
        n_frames += 1
        pos = data + fsize
    if n_frames == 0:
        raise ValueError("malformed y4m: no frames")
    return {
        "width": width,
        "height": height,
        "channels": nch,
        "n_frames": n_frames,
        "duration_ms": int(n_frames * 1000 * fps_den / fps_num),
        "mean_intensity": luma_sum / luma_n if luma_n else None,
    }


# ---------------------------------------------------------------------------
# GIF (r10, VERDICT r9 #7): web corpora carry GIF heavily — without a
# decoder the perceptual-dedup family was blind to the third major web
# image format. Implemented from the public GIF89a specification
# (CompuServe, 1990; also W3C's copy) — header + logical screen
# descriptor, global/local color tables, extension-block skip, and the
# variable-width LSB-first GIF-LZW entropy coder, including interlace
# and the 12-bit table cap / clear-code reset. First image descriptor
# only (animation frames beyond the first do not change near-dup
# identity for poster-frame hashing; n_frames is counted for metadata).
# ---------------------------------------------------------------------------

GIF_MAGICS = (b"GIF87a", b"GIF89a")
_GIF_MAX_CODE = 4096  # 12-bit LZW table cap (GIF spec appendix F)


def _gif_lzw_decode_flat(
    data: bytes, min_code_size: int, npix: int
) -> bytearray | None:
    """Vectorized fast path for LITERAL-ONLY LZW streams (every code is
    a root/clear/end code — what `_gif_lzw_encode_flat` emits, and what
    low-compression encoders produce). Code widths between clear codes
    follow the deterministic table-growth schedule, so whole fixed-width
    runs extract as one numpy gather instead of a per-code Python loop
    (r10 optimization: 22→1 ms on a 256² frame). Returns None on the
    first dictionary code — the caller falls back to the general scalar
    decoder — so compressed streams decode exactly as before."""
    import numpy as np

    clear = 1 << min_code_size
    end = clear + 1
    buf = np.frombuffer(bytes(data) + b"\x00\x00\x00", dtype=np.uint8).astype(
        np.int64
    )
    nbits = (len(buf) - 3) * 8
    bitpos = 0
    width = min_code_size + 1
    tlen = end + 1
    first = True  # right after (implicit) clear: next code adds no entry
    out = np.empty(npix, dtype=np.uint8)
    produced = 0
    while produced < npix:
        # codes readable at this width before the table-growth bump:
        # appends start at the SECOND code after a clear, and stop at
        # the 4096-entry cap (width then stays 12 indefinitely)
        if width < 12:
            room = (1 << width) - tlen + (1 if first else 0)
        else:
            # width is terminal past the cap, but chunk the extraction:
            # flat encoders emit a clear at the cap (≤ 2048 codes after
            # reaching width 12), and extracting the whole remainder
            # just to discard everything past that clear made the loop
            # quadratic on 256² frames
            room = 4096
        avail = (nbits - bitpos) // width
        n = min(room, avail, npix - produced)
        if n <= 0:
            if avail <= 0:
                return None  # stream exhausted short — let scalar raise
            # room == 0 without `first` can't happen (bump keeps room>0)
            return None
        p = bitpos + np.arange(n, dtype=np.int64) * width
        b0 = p >> 3
        u = (
            buf[b0]
            | (buf[b0 + 1] << 8)
            | (buf[b0 + 2] << 16)
            | (buf[b0 + 3] << 24)
        )
        codes = (u >> (p & 7)) & ((1 << width) - 1)
        nonlit = np.nonzero(codes >= clear)[0]
        j = int(nonlit[0]) if nonlit.size else n
        if j:
            out[produced : produced + j] = codes[:j]
            produced += j
            tlen += j - (1 if first else 0)
            first = False
            bitpos += j * width
            if width < 12 and tlen == (1 << width):
                width += 1
        if j < n:
            c = int(codes[j])
            bitpos += width
            if c == end:
                break
            if c == clear:
                width = min_code_size + 1
                tlen = end + 1
                first = True
                continue
            return None  # real dictionary code — general decoder owns it
    if produced < npix:
        return None
    return bytearray(out.tobytes())


def _gif_lzw_encode_flat(indices: bytes, min_code_size: int) -> bytes:
    """Emit every pixel as its own LITERAL code (no dictionary matching)
    — a conforming LZW stream any decoder accepts, with the clear code
    emitted exactly where the table hits the 4096-entry cap (the same
    reset point the dictionary encoder uses), so the width-bump/reset
    schedule is still fully exercised. Fully vectorized: the code and
    width arrays are pure functions of position-since-clear, and the
    LSB-first bit packing is three disjoint-bit bincount layers. ~20×
    faster than dictionary matching on a 256² frame; the payload is
    larger (no compression), which only matters to in-partition bytes
    that are decoded immediately."""
    import numpy as np

    clear = 1 << min_code_size
    end = clear + 1
    arr = np.frombuffer(indices, dtype=np.uint8).astype(np.int64)
    n = arr.size
    w0 = min_code_size + 1
    # literals per clear-group: the decoder's table grows by 1 from the
    # 2nd literal on, hitting the 4096 cap after  4096 - (end+1) + 1
    group = _GIF_MAX_CODE - (end + 1) + 1
    # width of literal i within its group: bumps when the table reaches
    # 2^w, i.e. at group offsets  2^w - (end+1) + 1
    bumps = np.asarray(
        [(1 << w) - (end + 1) + 1 for w in range(w0, 12)], dtype=np.int64
    )

    def lit_width(ig: np.ndarray) -> np.ndarray:
        return w0 + np.searchsorted(bumps, ig, side="right")

    ig = np.arange(n, dtype=np.int64) % group
    lw = lit_width(ig)
    # assemble (code, width) streams: clear at every group start (read
    # at the width in effect — w0 initially, the previous group's
    # terminal width mid-stream), literals, then one end code
    code_parts: list[np.ndarray] = []
    width_parts: list[np.ndarray] = []
    cur_w = w0
    for s in range(0, max(n, 1), group):
        e = min(s + group, n)
        code_parts.append(np.asarray([clear], dtype=np.int64))
        width_parts.append(np.asarray([cur_w], dtype=np.int64))
        code_parts.append(arr[s:e])
        width_parts.append(lw[s:e])
        cur_w = int(lw[e - 1]) if e > s else w0
    # end-code width follows the SAME bump rule as the next literal
    # would (r11, advisor): after the final group's last literal the
    # decoder's table may hit 2^w exactly (group offsets 254/766/1790 at
    # min_code_size 8) and a spec decoder bumps BEFORE reading the end
    # code — writing it at the last literal's width made those exact
    # sizes unreadable to external decoders (internal ones stop at npix,
    # so roundtrips never caught it). A full group needs no adjustment:
    # the table is at the 4096 cap and width stays terminal.
    if n > 0:
        nxt = (n - 1) % group + 1
        if nxt < group:
            cur_w = int(lit_width(np.asarray([nxt], dtype=np.int64))[0])
    code_parts.append(np.asarray([end], dtype=np.int64))
    width_parts.append(np.asarray([cur_w], dtype=np.int64))
    codes = np.concatenate(code_parts)
    widths = np.concatenate(width_parts)
    ends = np.cumsum(widths)
    offs = ends - widths
    nbytes = (int(ends[-1]) + 7) // 8
    byte0 = offs >> 3
    val = codes << (offs & 7)  # ≤ 12 + 7 = 19 bits → 3 byte layers
    out = np.zeros(nbytes + 3, dtype=np.int64)
    for layer in range(3):
        # disjoint bit positions per byte ⇒ sum == bitwise OR; add.at
        # handles two codes landing contributions in the same byte
        np.add.at(out, byte0 + layer, (val >> (8 * layer)) & 0xFF)
    return out[:nbytes].astype(np.uint8).tobytes()


def _gif_lzw_decode(data: bytes, min_code_size: int, npix: int) -> bytearray:
    """GIF-variant LZW: variable width starting min_code_size+1, LSB-first
    bit packing, clear/end codes, width bump when the table reaches
    2^width, hard 4096-entry cap. Decodes exactly ``npix`` indices (a
    conforming stream may end with an explicit end code or simply run
    out — both accepted; overrun raises).

    Literal-only streams (no dictionary codes) take the vectorized
    numpy fast path (`_gif_lzw_decode_flat`); anything else — including
    a long literal prefix before the first dictionary code — falls back
    to this general scalar loop, unchanged."""
    fast = _gif_lzw_decode_flat(data, min_code_size, npix)
    if fast is not None:
        return fast
    clear = 1 << min_code_size
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    # windowed LSB-first bit reader: a 4-byte slice covers any code
    # width ≤ 12 at any intra-byte offset. (The first cut shifted ONE
    # whole-buffer bigint per code — O(stream) memcpy per read, which
    # turned 256×256 frames quadratic: 122 ms/frame, the r10 mixed-
    # corpus hotspot. The windowed read is O(1) per code.)
    data = bytes(data) + b"\x00\x00\x00"
    nbits = (len(data) - 3) * 8
    bitpos = 0
    width = min_code_size + 1
    mask = (1 << width) - 1
    table = list(base)
    tlen = len(table)
    prev: bytes | None = None
    out = bytearray()
    produced = 0
    frombytes = int.from_bytes  # hoisted: ~35k iterations on a 256² frame
    append = table.append
    while produced < npix:
        if bitpos + width > nbits:
            break  # stream exhausted without end code — accept if npix met
        b0 = bitpos >> 3
        code = (frombytes(data[b0 : b0 + 4], "little") >> (bitpos & 7)) & mask
        bitpos += width
        if code < tlen:
            if code >= clear:
                if code == clear:
                    table = list(base)
                    tlen = len(base)
                    append = table.append
                    width = min_code_size + 1
                    mask = (1 << width) - 1
                    prev = None
                    continue
                if code == end:
                    break
            entry = table[code]
        elif code == tlen and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("malformed GIF: LZW code out of range")
        out += entry
        produced += len(entry)
        if prev is not None and tlen < _GIF_MAX_CODE:
            append(prev + entry[:1])
            tlen += 1
            if tlen == mask + 1 and width < 12:
                width += 1
                mask = (1 << width) - 1
        prev = entry
    if produced < npix:
        raise ValueError("malformed GIF: LZW stream short of pixel count")
    return out[:npix]


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Real LZW compression (not the clear-code-spam trick) with the
    width/reset schedule mirroring ``_gif_lzw_decode`` exactly: width
    bumps when next_code reaches 2^width; a clear code is emitted (and
    the table reset) when the table would exceed 4096 entries."""
    clear = 1 << min_code_size
    end = clear + 1
    out_bits = bytearray()
    acc = 0
    accbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += width
        while accbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    # phrase table keyed by (prefix_code << 8) | next_byte — every
    # phrase IS prefix-phrase + one byte, so the int key replaces the
    # bytes-concat dict of the first cut (which rebuilt a phrase bytes
    # object per pixel; ~3× the encode wall on 256² frames)
    width = min_code_size + 1
    table: dict[int, int] = {}
    next_code = end + 1
    emit(clear, width)
    prev_code = -1
    for b in indices:
        if prev_code < 0:
            prev_code = b
            continue
        key = (prev_code << 8) | b
        cand = table.get(key)
        if cand is not None:
            prev_code = cand
            continue
        emit(prev_code, width)
        if next_code < _GIF_MAX_CODE:
            table[key] = next_code
            next_code += 1
            # parity with the decoder's `tlen == 1 << width` bump
            # (the decoder's table runs one entry behind next_code — the
            # classic delayed-KwKwK offset — hence the +1 here; verified
            # against giflib's RunningCode/MaxCode1 schedule)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {}
            next_code = end + 1
            width = min_code_size + 1
        prev_code = b
    if prev_code >= 0:
        emit(prev_code, width)
    emit(end, width)
    if accbits:
        out_bits.append(acc & 0xFF)
    return bytes(out_bits)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: bytearray, w: int, h: int) -> bytearray:
    out = bytearray(len(idx))
    src = 0
    for start, step in _GIF_INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y * w : (y + 1) * w] = idx[src : src + w]
            src += w
    return out


def gif_info(payload: bytes) -> tuple[int, int, int]:
    """(width, height, gct_entries) from the logical screen descriptor."""
    if payload is None or payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload (bad signature)")
    if len(payload) < 13:
        raise ValueError("malformed GIF: truncated screen descriptor")
    w, h, packed = struct.unpack("<HHB", payload[6:11])
    gct = (2 << (packed & 0x07)) if packed & 0x80 else 0
    return w, h, gct


def decode_gif(payload: bytes) -> dict:
    """Full first-frame decode → the decode_png contract: {width, height,
    channels, pixels (row-major interleaved), mean_intensity} plus
    n_frames. channels is 1 when the effective palette is pure gray
    (r==g==b for every USED entry — the common grayscale-GIF case this
    corpus synthesizes), else 3 via palette lookup. Frames after the
    first are length-walked (not LZW-decoded) to count n_frames."""
    w, h, gct_n = gif_info(payload)
    pos = 13
    gct = payload[pos : pos + 3 * gct_n]
    pos += 3 * gct_n
    frame = None
    n_frames = 0
    fw = fh = 0
    palette = gct
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"malformed GIF: unknown block 0x{b:02x}")
        if pos + 10 > len(payload):
            raise ValueError("malformed GIF: truncated image descriptor")
        _l, _t, iw, ih, ipk = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
        pos += 10
        lct_n = (2 << (ipk & 0x07)) if ipk & 0x80 else 0
        lct = payload[pos : pos + 3 * lct_n]
        pos += 3 * lct_n
        if pos >= len(payload):
            raise ValueError("malformed GIF: missing LZW data")
        mcs = payload[pos]
        pos += 1
        chunks = []
        while pos < len(payload) and payload[pos]:
            n = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + n])
            pos += 1 + n
        pos += 1  # block terminator
        if frame is None:
            if not (2 <= mcs <= 11):
                raise ValueError("malformed GIF: bad LZW min code size")
            idx = _gif_lzw_decode(b"".join(chunks), mcs, iw * ih)
            if ipk & 0x40:
                idx = _deinterlace(idx, iw, ih)
            frame, fw, fh = idx, iw, ih
            palette = lct or gct
            if not palette:
                raise ValueError("malformed GIF: no color table")
        n_frames += 1
    if frame is None:
        raise ValueError("malformed GIF: no image descriptor")
    import numpy as np

    pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
    ids = np.frombuffer(bytes(frame), dtype=np.uint8)
    if ids.max(initial=0) >= len(pal):
        raise ValueError("malformed GIF: pixel index outside color table")
    # bincount occupancy instead of np.unique: O(n) with no sort (the
    # sort was ~20 % of flat-stream decode wall on 256² frames)
    used = pal[np.bincount(ids, minlength=len(pal)) > 0]
    if (used[:, 0] == used[:, 1]).all() and (used[:, 1] == used[:, 2]).all():
        px = pal[ids, 0]  # pure-gray palette → 1 channel
        channels = 1
    else:
        px = pal[ids].reshape(-1)
        channels = 3
    return {
        "width": fw,
        "height": fh,
        "channels": channels,
        "pixels": bytearray(px.tobytes()),
        "mean_intensity": float(px.mean()) / 255.0 if len(px) else 0.0,
        "n_frames": n_frames,
    }


def encode_gif(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    interlace: bool = False,
    compress: bool = True,
) -> bytes:
    """GIF89a encoder for 8-bit GRAYSCALE planes (channels must be 1 —
    the identity 256-gray global color table makes every pixel value its
    own palette index, so encode∘decode is bit-exact; color GIF would
    need a quantizer this corpus has no use for). Real LZW compression
    by default; optional interlace for decoder coverage.

    ``compress=False`` emits the literal-only (flat-code) LZW stream —
    still a conforming GIF that any decoder accepts, with the full
    width-bump/clear-reset schedule exercised, but built vectorized
    (numpy) instead of via per-pixel dictionary matching, and decoded
    by the vectorized literal fast path. ~40× faster on both sides for
    a 256² frame; the payload is larger (no compression), which is the
    right trade for synth-and-hash pipelines where the bytes never
    leave the partition."""
    if channels != 1:
        raise NotImplementedError("encode_gif: grayscale (channels=1) only")
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | 0x70 | 0x07, 0, 0)
    for v in range(256):  # identity gray GCT
        out += bytes((v, v, v))
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    idx = bytes(pixels)
    if interlace:
        rows = [idx[y * width : (y + 1) * width] for y in range(height)]
        order = [
            y for start, step in _GIF_INTERLACE_PASSES
            for y in range(start, height, step)
        ]
        idx = b"".join(rows[y] for y in order)
    out.append(8)  # min code size: 256-entry palette
    lzw = _gif_lzw_encode(idx, 8) if compress else _gif_lzw_encode_flat(idx, 8)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
