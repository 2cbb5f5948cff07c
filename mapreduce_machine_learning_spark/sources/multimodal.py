"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched pandas over ``mapInPandas``.

The Spark-side machinery here is real and tested — schema, partitioning, UDF
signature, batch shapes. The codec layer (rounds 8–9) is real for every
format pure stdlib + numpy can carry: **24-bit uncompressed BMP** images
(``decode_bmp``/``encode_bmp``, struct-parsed — real pixels, real
nearest-neighbor resize), **PNG at every legal depth** (1/2/4/8/16-bit),
Adam7-interlaced or not (``decode_png``/``encode_png`` — stdlib ``zlib``
inflate + numpy unfiltering of all five RFC 2083 scanline filters; color
types 0/2/3/4/6),
**JPEG, baseline AND progressive** (``sources/jpeg.py`` — Huffman entropy
coding + 8×8 DCT as numpy matrix products; SOF0 and SOF2 with spectral
selection, successive approximation, and EOB runs; 4:4:4/4:2:2/4:2:0,
restart markers), and
**16-bit PCM WAV** audio (``decode_wav``/``encode_wav`` via the stdlib
``wave`` module — real samples, RMS/ZCR features), **GIF 87a/89a**
(``sources/gif.py`` — pure-Python LZW, interlace, transparency, disposal;
still GIFs as images, animated GIFs as video), and **AVI video in both
its common layouts** (``sources/avi.py`` — RIFF chunk walk; uncompressed
24-bit DIB frames bit-exact, MJPEG frames through the in-container JPEG
codec; real frame sampling and codec-preserving per-frame resize), and
**lossless WebP** (``sources/webp.py``, round 11 — the full VP8L
surface: canonical prefix codes in both storage forms, meta prefix
codes, the color cache, LZ77 with the 2D distance map, and all four
transforms; bit-exact round trips), **FLAC** audio
(``sources/flac.py``, round 11 — fixed + LPC prediction, both Rice
residual methods with escapes, all stereo decorrelation modes,
8–32-bit depths, CRC-8/CRC-16/MD5 verified; bit-exact round trips),
the **speech-corpus containers** AIFF/AIFC, Sun AU, and NIST
SPHERE with G.711 µ-law/A-law companding (``sources/pcm_codecs.py``,
round 11 — formula-derived expansion pinned to the published anchor
values), and **FLAC-in-Ogg** (``sources/ogg.py``, round 11 — RFC 3533
page walk with CRC-32 verification and cross-page packet reassembly,
samples decoded by the shared FLAC decoder; Ogg-Vorbis/Opus payloads
quarantine with the codec named), plus the round-13 additions:
**IMA/MS ADPCM WAV** (``sources/adpcm.py`` — the two 4-bit block
codecs, block-parallel vectorized) and **baseline TIFF**
(``sources/tiff.py`` — both byte orders, none/PackBits/LZW
compression with the early-change width quirk and horizontal
predictor; bit-exact round trips).
Payloads are dispatched by magic bytes (``BM`` / ``\\x89PNG`` /
``\\xff\\xd8\\xff`` / ``GIF8`` / ``RIFF..WAVE`` / ``RIFF..AVI`` /
``RIFF..WEBP`` / ``fLaC`` / ``FORM..AIFF`` / ``.snd`` /
``NIST_1A`` / ``OggS`` / ``II*`` / ``MM*``); anything
else — MP3/Vorbis/Opus audio (normative-table codecs whose ISO/Xiph
constant tables are not in this container — see the ``sources/flac.py``
docstring for why approximating them would be worse than the seam),
LOSSY (VP8) WebP, and INTER-FRAME video codecs (H.264, VP9) —
still needs external libraries this container lacks, raises
``NotImplementedError`` at the documented seam, and flows through the
deterministic ``fake_features``/``fake_resize`` stand-ins so pipelines
stay runnable end to end. Swapping in a full decoder still changes one
function, nothing about the plan.

Scale notes: media payloads ride the normal columnar path (parquet BYTE_ARRAY
with dictionary off), so partition sizing is by bytes not rows — set
``spark.sql.files.maxPartitionBytes`` so one task's batch of payloads fits in
executor memory, and keep feature extraction in ``mapInPandas`` (one Python
worker per partition, Arrow record batches) rather than a per-row UDF.
"""

from __future__ import annotations

import hashlib
import io as _io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from mapreduce_machine_learning_spark.io import worker_prelude
from mapreduce_machine_learning_spark.sources.avi import (
    avi_codec,
    avi_fps,
    decode_avi,
    encode_avi,
    is_avi,
    real_video_features,
)
from mapreduce_machine_learning_spark.sources.flac import (
    decode_flac,
    encode_flac,
    is_flac,
)
from mapreduce_machine_learning_spark.sources.pcm_codecs import (
    _pcm_to_int16,
    decode_aiff,
    decode_au,
    decode_sphere,
    encode_aiff,
    encode_au,
    encode_sphere,
    is_aiff,
    is_au,
    is_sphere,
)
from mapreduce_machine_learning_spark.sources import native
from mapreduce_machine_learning_spark.sources.adpcm import (
    decode_ima_wav_body,
    decode_ms_wav_body,
    encode_wav_ima,
    encode_wav_ms,
)
from mapreduce_machine_learning_spark.sources.resample import resample_audio
from mapreduce_machine_learning_spark.sources.netpbm import (
    decode_netpbm,
    encode_netpbm,
    is_netpbm,
)
from mapreduce_machine_learning_spark.sources.tga import (
    decode_tga,
    encode_tga,
    is_tga,
)
from mapreduce_machine_learning_spark.sources.tiff import (
    decode_tiff,
    encode_tiff,
    is_tiff,
)
from mapreduce_machine_learning_spark.sources.gif import (
    decode_gif,
    encode_gif,
    encode_gif_rgb,
    is_gif,
)
from mapreduce_machine_learning_spark.sources.ogg import (
    decode_ogg_audio,
    encode_ogg_flac,
    is_ogg,
)
from mapreduce_machine_learning_spark.sources.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    is_jpeg,
)
from mapreduce_machine_learning_spark.sources.mp4 import (
    decode_mp4,
    encode_mp4_mjpeg,
    is_mp4,
    mp4_fps,
)
from mapreduce_machine_learning_spark.sources.y4m import (
    decode_y4m,
    encode_y4m,
    is_y4m,
    y4m_fps,
)
from mapreduce_machine_learning_spark.sources.webp import (
    decode_webp,
    encode_webp,
    is_webp,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),  # opaque encoded bytes
        StructField("width", IntegerType()),  # typed metadata
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_DIM = 8

#: deterministic 16-color palette for the synthetic GIF rows
_GIF_TEST_PALETTE = np.stack(
    [
        (np.arange(16) * 17).astype(np.uint8),
        (np.arange(16) * 13 % 256).astype(np.uint8),
        (255 - np.arange(16) * 11 % 256).astype(np.uint8),
    ],
    axis=1,
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def is_bmp(payload: bytes) -> bool:
    return len(payload) > 54 and payload[:2] == b"BM"


def is_wav(payload: bytes) -> bool:
    return (
        len(payload) > 44
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def is_png(payload: bytes) -> bool:
    return len(payload) > 8 + 25 and payload[:8] == _PNG_MAGIC


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def encode_png(arr: "np.ndarray", interlace: bool = False) -> bytes:
    """8-bit truecolor (color type 2) PNG from a uint8 (h, w, 3) RGB array —
    stdlib ``zlib`` + ``struct``, no image library. Every scanline uses
    filter 0 (None); correctness over ratio, and zlib still deflates the
    raw rows. ``interlace=True`` writes the Adam7 seven-pass layout (each pass
    its own filtered scanlines) — mainly so the decoder's deinterlacer can
    be round-trip-tested without an external encoder."""
    h, w, c = arr.shape
    if c != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png expects uint8 (h, w, 3) RGB")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    if interlace:
        raw = b"".join(
            b"".join(b"\x00" + sub[y].tobytes() for y in range(sub.shape[0]))
            for sub in (
                arr[y0::dy, x0::dx] for x0, y0, dx, dy in _ADAM7
            )
            if sub.size
        )
    else:
        raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, h: int, w: int, bpp: int) -> "np.ndarray":
    """Invert the per-scanline PNG filters (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth; RFC 2083 §6). Returns uint8 (h, w*bpp) of reconstructed bytes.
    Up/None rows are whole-row numpy ops; Sub/Average/Paeth carry a
    left-neighbor dependency, so those scan column-wise in ``bpp``-wide
    numpy slices — O(w) python steps per filtered row, vectorized down the
    byte lanes. Fine for the metadata-sized media of the test tables; a
    100 TB image pipeline would decode in a native library at this seam
    anyway (the surrounding mapInPandas plumbing is the part that scales)."""
    stride = w * bpp
    if len(raw) < h * (1 + stride):
        raise NotImplementedError("truncated PNG pixel data")
    rows = np.frombuffer(raw, np.uint8, h * (1 + stride)).reshape(
        h, 1 + stride
    )
    out = np.zeros((h, stride), np.int16)  # int16: filter math mod 256
    for y in range(h):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.int16)
        prev = out[y - 1] if y else np.zeros(stride, np.int16)
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub: + left
            cur = out[y]
            cur[:bpp] = line[:bpp]
            for x in range(bpp, stride, bpp):
                cur[x : x + bpp] = (
                    line[x : x + bpp] + cur[x - bpp : x]
                ) & 0xFF
        elif ftype == 2:  # Up: + above (whole-row vector op)
            out[y] = (line + prev) & 0xFF
        elif ftype == 3:  # Average: + floor((left + above) / 2)
            cur = out[y]
            cur[:bpp] = (line[:bpp] + prev[:bpp] // 2) & 0xFF
            for x in range(bpp, stride, bpp):
                cur[x : x + bpp] = (
                    line[x : x + bpp]
                    + (cur[x - bpp : x] + prev[x : x + bpp]) // 2
                ) & 0xFF
        elif ftype == 4:  # Paeth predictor
            cur = out[y]
            cur[:bpp] = (line[:bpp] + prev[:bpp]) & 0xFF
            for x in range(bpp, stride, bpp):
                a = cur[x - bpp : x]
                b = prev[x : x + bpp]
                c = prev[x - bpp : x]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                cur[x : x + bpp] = (line[x : x + bpp] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ftype}")
    return out.astype(np.uint8)


def decode_png(payload: bytes) -> "np.ndarray":
    """uint8 (h, w, 3) RGB from ANY legal PNG depth (1/2/4/8/16-bit),
    interlaced or not — stdlib ``zlib`` inflate + numpy unfiltering, no
    image library. Color types: 0 (gray, replicated to RGB), 2 (RGB), 3
    (palette via PLTE), 4 (gray+alpha, alpha dropped), 6 (RGBA, alpha
    dropped). 16-bit samples render to their high byte (the standard
    8-bit presentation); sub-byte grays scale exactly (255/(2^d − 1) is
    integral); Adam7 streams deinterlace pass by pass through the same
    unfilter kernel. The only refusals left are ILLEGAL combinations
    (sub-byte truecolor, unknown interlace/filter methods)."""
    if not is_png(payload):
        raise NotImplementedError("not a PNG payload")
    pos, idat, plte, ihdr = 8, [], None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if len(body) != 13:
                raise NotImplementedError("corrupt PNG IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            # len(body) != length catches a PLTE truncated mid-stream:
            # the slice above clamps silently, so a declared-valid length
            # with a short body would otherwise reach reshape(-1, 3)
            if len(body) != length or length % 3 or not body:
                raise NotImplementedError("corrupt PNG PLTE length")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length  # length + tag + crc
    if ihdr is None or not idat:
        raise NotImplementedError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if w * h == 0 or w * h > 1 << 26:
        # corrupt IHDR dims can demand multi-GB canvases before any
        # pixel data validates — refuse (callers quarantine)
        raise NotImplementedError(f"PNG dimensions {w}x{h} out of range")
    if depth not in (1, 2, 4, 8, 16) or comp != 0 or filt != 0 or interlace > 1:
        raise NotImplementedError(
            f"PNG depth {depth} / interlace {interlace} not decodable"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None or (ctype == 3 and plte is None):
        raise NotImplementedError(f"PNG color type {ctype}")
    if depth < 8 and ctype not in (0, 3):
        raise NotImplementedError(
            f"sub-byte depth {depth} is only legal for gray/palette PNG"
        )
    bs = max(1, depth // 8)  # bytes per sample (filters act on raw bytes)
    bpp = channels * bs if depth >= 8 else 1  # filter delta distance
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        raise NotImplementedError("corrupt PNG IDAT stream") from None

    def stride(pw: int) -> int:  # packed scanline bytes for pw pixels
        return (pw * channels * depth + 7) // 8

    def to_samples(rows: "np.ndarray", ph: int, pw: int) -> "np.ndarray":
        if depth == 16:  # big-endian high byte = 8-bit rendering
            b = rows.reshape(ph, pw, channels, 2)
            return np.ascontiguousarray(b[..., 0])
        if depth == 8:
            return rows.reshape(ph, pw, channels)
        # sub-byte gray/palette: unpack MSB-first bit groups per pixel
        bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
        weights = 1 << np.arange(depth - 1, -1, -1)
        vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2)
        if ctype == 0:  # gray: exact 8-bit scaling (255/(2^d - 1) is int)
            vals = vals * (255 // ((1 << depth) - 1))
        return vals.astype(np.uint8)[..., None]

    def unfilter(buf: bytes, ph: int, pw: int) -> "np.ndarray":
        # _png_unfilter's scanline is w_arg * bpp bytes with filter delta
        # bpp; stride(pw) is bpp-divisible for byte-aligned depths and
        # bpp=1 for sub-byte, so w_arg = stride // bpp covers both
        return _png_unfilter(buf, ph, stride(pw) // bpp, bpp).reshape(ph, -1)

    if interlace == 0:
        px = to_samples(unfilter(raw, h, w), h, w)
    else:  # Adam7: seven independently-filtered sub-images
        px = np.zeros((h, w, channels), np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            n = ph * (1 + stride(pw))
            px[y0::dy, x0::dx] = to_samples(
                unfilter(raw[pos : pos + n], ph, pw), ph, pw
            )
            pos += n
    if ctype == 2:
        return px
    if ctype == 6:
        return np.ascontiguousarray(px[..., :3])
    if ctype == 3:
        return plte[px[..., 0]]
    # gray / gray+alpha: replicate luma across RGB
    return np.repeat(px[..., :1], 3, axis=2)


def encode_bmp(arr: "np.ndarray") -> bytes:
    """24-bit uncompressed bottom-up BMP from a uint8 (h, w, 3) RGB array —
    pure struct/numpy, no image library. Rows pad to 4-byte boundaries per
    the format; pixels store as BGR."""
    h, w, c = arr.shape
    if c != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_bmp expects uint8 (h, w, 3) RGB")
    row = w * 3
    pad = (4 - row % 4) % 4
    img_size = (row + pad) * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    body = b"".join(
        arr[y, :, ::-1].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    return header + dib + body


def decode_bmp(payload: bytes) -> "np.ndarray":
    """uint8 (h, w, 3) RGB from a 24-bit uncompressed (BI_RGB) BMP; handles
    both bottom-up (positive height) and top-down storage and row padding.
    Other bit depths / compressions raise at the documented seam."""
    if not is_bmp(payload):
        raise NotImplementedError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP decodes in-container (got "
            f"{bpp}-bit, compression {comp})"
        )
    top_down = h_signed < 0
    h = abs(h_signed)
    if w * h <= 0 or w * h > 1 << 26:
        raise NotImplementedError(f"BMP dimensions {w}x{h} out of range")
    row = w * 3
    pad = (4 - row % 4) % 4
    if off + h * (row + pad) - pad > len(payload):
        raise NotImplementedError("truncated BMP pixel data")
    out = np.empty((h, w, 3), np.uint8)
    pos = off
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        out[y] = np.frombuffer(payload, np.uint8, row, pos).reshape(w, 3)[
            :, ::-1
        ]
        pos += row + pad
    return out


def encode_wav(
    samples: "np.ndarray", rate: int, sampwidth: int = 2
) -> bytes:
    """PCM mono WAV from an int16 sample array — stdlib ``wave``.

    ``sampwidth`` selects the container depth: 2 (default, lossless for
    int16 input), 1 (unsigned 8-bit: top byte, offset-binary per the WAV
    spec), 3 (24-bit: int16 values in the top two bytes), or 4 (32-bit
    likewise) — the depths real capture pipelines emit, so the decoder's
    width-normalization path is encoder-reachable and round-trip-tested."""
    s16 = samples.astype("<i2")
    if sampwidth == 2:
        raw = s16.tobytes()
    elif sampwidth == 1:
        raw = ((s16.astype(np.int32) >> 8) + 128).astype(np.uint8).tobytes()
    elif sampwidth == 3:
        # 24-bit LE = the low three bytes of (s16 << 8): top-aligned,
        # zero low byte — what a 16->24-bit capture upconvert emits
        le32 = (s16.astype("<i4") << 8).tobytes()
        raw = b"".join(le32[i : i + 3] for i in range(0, len(le32), 4))
    elif sampwidth == 4:
        raw = (s16.astype("<i4") << 16).tobytes()
    else:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    buf = _io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(sampwidth)
        wf.setframerate(rate)
        wf.writeframes(raw)
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple["np.ndarray", int]:
    """(int16 samples, sample_rate) from a WAV — stdlib ``wave`` for
    plain integer PCM, a manual RIFF walk for what the stdlib rejects.

    8/16/24/32-bit integer PCM all decode (round 10): every width
    normalizes to the int16 domain by taking the top 16 bits (8-bit is
    offset-binary per the spec and is re-centered), so downstream
    RMS/ZCR features are depth-invariant up to the dropped low bits.
    Round 11 adds IEEE-float WAV (format tag 3, 32/64-bit — pure
    structural IEEE 754, scaled and clipped into int16) and
    WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE — the real format code is the
    first two GUID bytes; PCM and float sub-formats decode, others
    raise). Multi-channel audio is downmixed to channel 0
    (deterministic, keeps the feature contract mono). Round 13 adds the
    two 4-bit block codecs (``sources/adpcm.py``): IMA ADPCM (tag
    0x0011) and MS ADPCM (tag 0x0002), block-parallel vectorized, with
    geometry validation quarantining lying headers. Other compressed
    WAV (MP3-in-WAV, ...) still raises at the seam."""
    if not is_wav(payload):
        raise NotImplementedError("not a WAV payload")
    try:
        with wave.open(_io.BytesIO(payload), "rb") as wf:
            width = wf.getsampwidth()
            if width not in (1, 2, 3, 4):
                raise NotImplementedError(
                    f"only 8/16/24/32-bit integer PCM WAV decodes "
                    f"in-container (got sample width {width})"
                )
            n = wf.getnframes()
            raw = wf.readframes(n)
            rate = wf.getframerate()
            ch = wf.getnchannels()
    except (wave.Error, EOFError, RuntimeError):
        # the stdlib module escapes corrupt containers with bare
        # EOFError/RuntimeError too (chunk seek past end); the manual
        # walker re-parses and quarantines with the contract error
        return _decode_wav_manual(payload)
    raw = raw[: len(raw) - len(raw) % width]  # drop a partial tail sample
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2")
    elif width == 1:
        u8 = np.frombuffer(raw, dtype=np.uint8)
        samples = ((u8.astype(np.int16) - 128) << 8).astype(np.int16)
    elif width == 3:
        b = np.frombuffer(raw, dtype=np.uint8)
        b = b[: len(b) - len(b) % 3].reshape(-1, 3)
        # top two of the three little-endian bytes = the int16 value
        samples = (
            b[:, 1].astype(np.uint16) | (b[:, 2].astype(np.uint16) << 8)
        ).view(np.int16)
    else:  # width == 4
        samples = (
            np.frombuffer(raw, dtype="<i4") >> 16
        ).astype(np.int16)
    if ch > 1:
        samples = samples[::ch]
    return samples, rate


def _decode_wav_manual(payload: bytes) -> tuple["np.ndarray", int]:
    """RIFF walk for the WAVs the stdlib module rejects: IEEE-float
    (format tag 3) and WAVE_FORMAT_EXTENSIBLE (0xFFFE, whose real format
    code is the first two bytes of the sub-format GUID). Everything here
    is structural — chunk layout + IEEE 754."""
    end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    pos = 12
    fmt = data = None
    fact_samples = -1
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise NotImplementedError("truncated WAV chunk")
        if tag == b"fmt " and size >= 16:
            fmt = body
        elif tag == b"data":
            data = body
        elif tag == b"fact" and size >= 4:
            fact_samples = struct.unpack_from("<I", body, 0)[0]
        pos += 8 + size + (size & 1)  # RIFF chunks are word-padded
    if fmt is None or data is None:
        raise NotImplementedError("WAV missing fmt/data chunk")
    ftag, ch, rate, _, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if ftag == 0xFFFE:
        if len(fmt) < 26:
            raise NotImplementedError("extensible WAV missing sub-format")
        ftag = struct.unpack_from("<H", fmt, 24)[0]
    if ch < 1 or rate == 0:
        raise NotImplementedError("invalid WAV fmt fields")
    if ftag in (0x0011, 0x0002):  # IMA / MS ADPCM (sources/adpcm.py)
        if len(fmt) < 20:
            raise NotImplementedError("ADPCM WAV missing samples-per-block")
        spb = struct.unpack_from("<H", fmt, 18)[0]
        decode_body = (
            decode_ima_wav_body if ftag == 0x0011 else decode_ms_wav_body
        )
        # the block decoders extract channel 0 themselves (interleaving
        # is at nibble granularity, not sample granularity)
        return decode_body(data, block_align, ch, spb, fact_samples), rate
    if ftag == 3:  # IEEE float
        if bits == 32:
            f = np.frombuffer(data[: len(data) - len(data) % 4], "<f4")
        elif bits == 64:
            f = np.frombuffer(data[: len(data) - len(data) % 8], "<f8")
        else:
            raise NotImplementedError(f"float WAV with {bits} bits")
        samples = np.clip(
            np.nan_to_num(f.astype(np.float64)) * 32767.0, -32768, 32767
        ).astype(np.int16)
    elif ftag == 1:  # extensible-wrapped integer PCM
        if bits not in (8, 16, 24, 32):
            raise NotImplementedError(f"PCM WAV with {bits} bits")
        samples = _pcm_to_int16(
            data, bits // 8, big_endian=False, signed=bits > 8
        )
    else:
        raise NotImplementedError(
            f"WAV format tag {ftag} needs an external codec"
        )
    if ch > 1:
        samples = samples[::ch]
    return samples, rate


def decode_image(payload: bytes) -> "np.ndarray":
    """Real decoder: 24-bit BMP (struct + numpy), 8/16-bit PNG interlaced
    or not (stdlib zlib + numpy unfiltering), JPEG — baseline or
    progressive (sources/jpeg.py — Huffman + numpy DCT) — and lossless
    WebP (sources/webp.py — VP8L prefix codes + LZ77 + transforms) parse
    in-container; remaining image formats (lossy WebP, JPEG 2000, …)
    raise at the seam and callers fall back to fake_features.

    Native seam (round 13): when an optional native backend is
    importable (Pillow — see ``sources/native.py`` for the contract,
    parity bounds, and cluster-homogeneity caveat), it decodes first;
    the pure decoders remain the fallback for anything the backend
    declines, so the quarantine contract is unchanged."""
    arr = native.native_decode_image(payload)
    if arr is not None:
        return arr
    if is_bmp(payload):
        return decode_bmp(payload)
    if is_png(payload):
        return decode_png(payload)
    if is_jpeg(payload):
        return decode_jpeg(payload)
    if is_gif(payload):
        return decode_gif(payload)[0]  # still image = first frame
    if is_webp(payload):
        return decode_webp(payload)
    if is_tiff(payload):
        return decode_tiff(payload)
    if is_netpbm(payload):
        return decode_netpbm(payload)
    if is_tga(payload):  # structural sniff — must stay LAST (no magic)
        return decode_tga(payload)
    raise NotImplementedError(
        "only BMP, PNG, JPEG (baseline/progressive), GIF, lossless "
        "WebP, and baseline TIFF decode in this container "
        "(no PIL/libjpeg); pipeline runs with fake_features "
        "(deterministic md5-derived) for other formats"
    )


def decode_audio(payload: bytes) -> tuple["np.ndarray", int]:
    """(int16 mono samples, rate) across every in-container audio
    format: WAV (integer/float PCM), FLAC, AIFF/AIFC, Sun AU, NIST
    SPHERE, and FLAC-in-Ogg. Mirror of ``decode_image`` — one dispatch
    for callers, per-format decoders behind it.

    Native seam (round 13): an importable native backend (soundfile)
    decodes first, pure decoders are the fallback — contract, parity
    bounds, and the cluster-homogeneity caveat in ``sources/native.py``."""
    out = native.native_decode_audio(payload)
    if out is not None:
        return out
    if is_wav(payload):
        return decode_wav(payload)
    if is_flac(payload):
        return decode_flac(payload)
    if is_aiff(payload):
        return decode_aiff(payload)
    if is_au(payload):
        return decode_au(payload)
    if is_sphere(payload):
        return decode_sphere(payload)
    if is_ogg(payload):
        return decode_ogg_audio(payload)
    raise NotImplementedError(
        "only WAV, FLAC, AIFF, AU, SPHERE, and Ogg-FLAC audio decode "
        "in-container; pipeline runs with fake_features for other formats"
    )


def real_image_features(arr: "np.ndarray") -> "np.ndarray":
    """8 deterministic floats from decoded pixels: normalized dims,
    per-channel means, gray std/min/max."""
    h, w = arr.shape[:2]
    gray = arr.mean(axis=2)
    return np.array(
        [
            w / 4096.0,
            h / 4096.0,
            arr[..., 0].mean() / 255.0,
            arr[..., 1].mean() / 255.0,
            arr[..., 2].mean() / 255.0,
            gray.std() / 255.0,
            gray.min() / 255.0,
            gray.max() / 255.0,
        ],
        dtype=np.float32,
    )


def real_audio_features(samples: "np.ndarray", rate: int) -> "np.ndarray":
    """8 deterministic floats from decoded samples: duration, RMS,
    zero-crossing rate, |x| statistics, normalized sample rate."""
    x = samples.astype(np.float64) / 32768.0
    ax = np.abs(x)
    zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if len(x) > 1 else 0.0
    return np.array(
        [
            len(x) / rate / 60.0,
            float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
            zc,
            float(ax.mean()) if len(x) else 0.0,
            float(ax.max()) if len(x) else 0.0,
            float(np.percentile(ax, 10)) if len(x) else 0.0,
            float(np.percentile(ax, 90)) if len(x) else 0.0,
            rate / 48000.0,
        ],
        dtype=np.float32,
    )


def features_for(payload: bytes) -> "np.ndarray":
    """Codec dispatch by magic bytes: real pixel/sample features for the
    in-container formats (BMP / PNG / JPEG / GIF / lossless WebP /
    baseline TIFF images, WAV incl. ADPCM / FLAC / AIFF / AU / SPHERE /
    Ogg-FLAC audio, DIB- and
    MJPEG-AVI + animated-GIF video), the md5 stand-in otherwise.
    Pure per-payload function — deterministic under any partitioning.

    ANY codec failure degrades to the stand-in, not just unsupported
    sub-formats: at pipeline scale malformed payloads (truncated rows,
    lying magic bytes) are routine, and one corrupt row must not kill a
    100k-row task — mirrors how production media pipelines quarantine
    undecodable items rather than failing the job."""
    try:
        if (
            is_bmp(payload)
            or is_png(payload)
            or is_jpeg(payload)
            or is_webp(payload)
            or is_tiff(payload)
            or is_netpbm(payload)
            or is_tga(payload)
        ):
            return real_image_features(decode_image(payload))
        if is_gif(payload):  # still GIF = image, animated GIF = video
            frames = decode_gif(payload)
            if frames.shape[0] == 1:
                return real_image_features(frames[0])
            return real_video_features(frames)
        if (
            is_wav(payload)
            or is_flac(payload)
            or is_aiff(payload)
            or is_au(payload)
            or is_sphere(payload)
            or is_ogg(payload)  # FLAC-in-Ogg real; Vorbis/Opus quarantine
        ):
            return real_audio_features(*decode_audio(payload))
        if is_avi(payload):
            return real_video_features(decode_avi(payload))
        if is_y4m(payload):
            return real_video_features(decode_y4m(payload))
        if is_mp4(payload):
            return real_video_features(decode_mp4(payload))
    except Exception:
        pass  # undecodable: same fallback as unknown formats
    return fake_features(payload)


def fake_features(payload: bytes) -> np.ndarray:
    """Deterministic stand-in feature extractor: md5(payload) → 8 floats in
    [0, 1). Same bytes → same features, any engine, any partitioning."""
    h = hashlib.md5(payload).digest()
    return np.frombuffer(h, dtype=np.uint16)[:FEATURE_DIM].astype(np.float32) / 65536.0


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, Arrow batches out.
    The batch loop is vectorized per-column; the per-payload codec call is
    the only scalar loop (inherent to variable-length media)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prelude()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": [list(features_for(p)) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


MEDIA_INFO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("container", StringType()),
        StructField("codec", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("decodable", BooleanType()),
    ]
)


def describe_media(media: DataFrame) -> DataFrame:
    """mapInPandas catalog pass: header-only format/codec/geometry/
    timing per payload (``sources/mediainfo.py``) — the cheap first
    sweep a 100 TB pipeline runs before deciding what to decode. No
    sample decode happens here; ``decodable`` is the routing bit for
    the stages that do. Row-wise and pure per payload: deterministic
    under any partitioning, no shuffle."""
    from mapreduce_machine_learning_spark.sources.mediainfo import (
        media_info,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prelude()
        for pdf in batches:
            infos = [media_info(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "container": [i["container"] for i in infos],
                    "codec": [i["codec"] for i in infos],
                    "width": np.array(
                        [i["width"] for i in infos], dtype="int32"
                    ),
                    "height": np.array(
                        [i["height"] for i in infos], dtype="int32"
                    ),
                    "n_frames": np.array(
                        [i["n_frames"] for i in infos], dtype="int32"
                    ),
                    "sample_rate": np.array(
                        [i["sample_rate"] for i in infos], dtype="int32"
                    ),
                    "duration_ms": np.array(
                        [min(i["duration_ms"], 2**31 - 1) for i in infos],
                        dtype="int32",
                    ),
                    "decodable": [bool(i["decodable"]) for i in infos],
                }
            )
            yield out

    return media.mapInPandas(run, MEDIA_INFO_SCHEMA)


def synth_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Synthesize a deterministic media table (payload = repeated md5 bytes)
    for tests — stands in for real encoded images/audio."""
    rows = []
    kinds = ("image", "audio", "video")
    for i in range(n):
        payload = hashlib.md5(f"media-{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (
                i,
                kinds[i % 3],
                bytearray(payload),
                64 + i,
                48 + i,
                1000 * (i % 7),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_media_real(spark: SparkSession, n: int = 48) -> DataFrame:
    """Synthesize a media table whose image/audio payloads are REAL encoded
    formats the in-container codecs decode: deterministic gradients rotated
    through 24-bit BMP, 8-bit PNG, and JPEG (baseline and progressive;
    4:4:4 and 4:2:0 alternating; id-seeded geometry and channel phases)
    and 16-bit sine bursts (id-seeded frequency) rotating the eight real
    audio formats (PCM WAV / FLAC / AIFF / µ-law AU / NIST SPHERE /
    FLAC-in-Ogg / IMA-ADPCM WAV / MS-ADPCM WAV).
    Image rows
    rotate BMP / PNG / baseline JPEG / still GIF / progressive JPEG /
    lossless WebP / LZW-predictor TIFF / big-endian PackBits TIFF / P6
    Netpbm / RLE TGA;
    video rows rotate opaque stand-in bytes, DIB AVI,
    MJPEG AVI, animated GIF, raw Y4M (444/422/420), and MJPEG MP4/MOV
    (one-chunk and chunk-per-frame layouts alternating) — inter-frame video codecs are the
    remaining environment-bound seam, and keeping opaque rows in the mix
    keeps the quarantine path exercised."""
    rows = []
    kinds = ("image", "audio", "video")
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = 16 + i % 5, 12 + i % 3
            yy, xx = np.mgrid[0:h, 0:w]
            arr = np.stack(
                [
                    (xx * (3 + i) + yy) % 256,
                    (yy * (5 + i)) % 256,
                    (xx + yy * 2 + i) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            fmt = (i // 3) % 10
            if fmt == 9:  # RLE Targa (round 13)
                payload = encode_tga(arr, rle=True, top_down=bool(i % 2))
            elif fmt == 8:  # binary Netpbm pixmap (round 13)
                payload = encode_netpbm(arr, kind=6)
            elif fmt == 3:  # still GIF: quantize the gradient to 16 colors
                payload = encode_gif(
                    [(arr[..., 0] % 16).astype(np.uint8)],
                    _GIF_TEST_PALETTE,
                )
            elif fmt in (2, 4):  # baseline / progressive JPEG
                enc = encode_jpeg if fmt == 2 else encode_jpeg_progressive
                payload = enc(
                    arr, quality=95, subsample=bool((i // 9) % 2)
                )
            elif fmt == 5:  # lossless WebP (VP8L)
                payload = encode_webp(arr)
            elif fmt == 6:  # baseline TIFF, LZW + predictor (round 13)
                payload = encode_tiff(
                    arr, compression="lzw", predictor=True
                )
            elif fmt == 7:  # big-endian PackBits TIFF (round 13)
                payload = encode_tiff(
                    arr, compression="packbits", big_endian=True
                )
            else:
                payload = (encode_png if fmt else encode_bmp)(arr)
            rows.append((i, kind, bytearray(payload), w, h, 0))
        elif kind == "audio":
            rate = 8000
            t = np.arange(400 + 40 * (i % 4))
            freq = 100.0 + 37.0 * i
            samples = (
                np.sin(2 * np.pi * freq * t / rate) * (8000 + 100 * i)
            ).astype(np.int16)
            # rotate all eight real audio formats (round 11; ADPCM
            # round 13)
            afmt = (i // 3) % 8
            if afmt == 1:
                payload = encode_flac(samples, rate)
            elif afmt == 2:
                payload = encode_aiff(samples, rate)
            elif afmt == 3:
                payload = encode_au(samples, rate, encoding=1)  # µ-law
            elif afmt == 4:
                payload = encode_sphere(samples, rate)
            elif afmt == 5:
                payload = encode_ogg_flac(samples, rate)
            elif afmt == 6:
                payload = encode_wav_ima(samples, rate)
            elif afmt == 7:
                payload = encode_wav_ms(samples, rate)
            else:
                payload = encode_wav(samples, rate)
            dur_ms = int(1000 * len(samples) / rate)
            rows.append((i, kind, bytearray(payload), 0, 0, dur_ms))
        else:
            variant = (i // 3) % 6
            if variant == 5:  # real MJPEG MP4/MOV (round 13)
                w, h, fps = 10 + i % 3, 8, 4 + i % 4
                yy, xx = np.mgrid[0:h, 0:w]
                mp4_frames = [
                    np.stack(
                        [
                            (xx * 3 + yy + t * 13 + i) % 256,
                            (yy * 5 + t * 11) % 256,
                            (xx + t * 7 + i * 9) % 256,
                        ],
                        axis=2,
                    ).astype(np.uint8)
                    for t in range(2 + i % 2)
                ]
                payload = encode_mp4_mjpeg(
                    mp4_frames, fps=fps, chunked=bool(i % 2)
                )
                dur_ms = int(1000 * len(mp4_frames) / fps)
                rows.append((i, kind, bytearray(payload), w, h, dur_ms))
            elif variant == 4:  # real Y4M raw video (round 13)
                w, h, fps = 8 + 2 * (i % 3), 8, 5 + i % 5
                yy, xx = np.mgrid[0:h, 0:w]
                y4m_frames = np.stack(
                    [
                        np.stack(
                            [
                                (xx * 5 + yy + t * 9 + i) % 256,
                                (yy * 7 + t * 3) % 256,
                                (xx + t * 17 + i * 3) % 256,
                            ],
                            axis=2,
                        ).astype(np.uint8)
                        for t in range(2 + i % 3)
                    ]
                )
                cs = ("444", "422", "420jpeg")[i % 3]
                payload = encode_y4m(y4m_frames, fps=fps, colorspace=cs)
                dur_ms = int(1000 * len(y4m_frames) / fps)
                rows.append((i, kind, bytearray(payload), w, h, dur_ms))
            elif variant == 3:  # real animated GIF
                w, h = 10 + i % 4, 8 + i % 3
                yy, xx = np.mgrid[0:h, 0:w]
                gif_frames = [
                    ((xx + yy * 2 + t * 3 + i) % 16).astype(np.uint8)
                    for t in range(2 + i % 3)
                ]
                payload = encode_gif(gif_frames, _GIF_TEST_PALETTE)
                dur_ms = 100 * len(gif_frames)  # default 10 cs delay
                rows.append((i, kind, bytearray(payload), w, h, dur_ms))
            elif variant:  # real AVI: uncompressed DIB (1) or MJPEG (2)
                w, h, fps = 10 + i % 4, 8 + i % 3, 5 + i % 5
                yy, xx = np.mgrid[0:h, 0:w]
                frames = [
                    np.stack(
                        [
                            (xx * 2 + yy + t * 11 + i) % 256,
                            (yy * 3 + t * 7) % 256,
                            (xx + t * 13 + i * 5) % 256,
                        ],
                        axis=2,
                    ).astype(np.uint8)
                    for t in range(3 + i % 3)
                ]
                codec = "mjpg" if variant == 2 else "dib"
                payload = encode_avi(frames, fps=fps, codec=codec)
                dur_ms = int(1000 * len(frames) / fps)
                rows.append((i, kind, bytearray(payload), w, h, dur_ms))
            else:  # opaque stand-in: the quarantine path stays tested
                payload = hashlib.md5(f"video-{i}".encode()).digest() * 6
                rows.append((i, kind, bytearray(payload), 64, 48, 2000))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_stats(features: DataFrame) -> DataFrame:
    """Downstream relational use of extracted features — proves the vector
    column re-enters the declarative plan (JVM array ops, no Python)."""
    l2 = F.sqrt(
        F.aggregate(
            F.transform("features", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, z: a + z,
        )
    )
    return features.groupBy("kind").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("n_bytes"), 6).alias("avg_bytes"),
        F.round(F.avg(l2), 6).alias("avg_l2"),
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Real resize for the in-container formats: BMP/PNG/JPEG/TIFF decode,
    resample nearest-neighbor (pure numpy index arithmetic — deterministic,
    no interpolation-library variance), and re-encode in the SOURCE format
    (PNG in → PNG out, JPEG → JPEG at quality 95 / 4:4:4 — lossy by
    construction, like any real JPEG resize stage). Other formats raise at
    the seam; resize_media falls back to fake_resize for them."""
    arr = decode_image(payload)  # raises NotImplementedError otherwise
    h, w = arr.shape[:2]
    yi = np.minimum((np.arange(height) * h) // height, h - 1)
    xi = np.minimum((np.arange(width) * w) // width, w - 1)
    out = np.ascontiguousarray(arr[yi][:, xi])
    if is_png(payload):
        return encode_png(out)
    if is_jpeg(payload):
        return encode_jpeg(out, quality=95)
    if is_gif(payload):  # NN never invents a color: exact re-encode
        return encode_gif_rgb([out])
    if is_webp(payload):  # lossless in, lossless out
        return encode_webp(out)
    if is_tiff(payload):  # lossless in, lossless out (LZW + predictor)
        return encode_tiff(out, compression="lzw", predictor=True)
    if is_netpbm(payload):  # lossless in, lossless out (P6)
        return encode_netpbm(out)
    if is_tga(payload):  # lossless in, lossless out (RLE)
        return encode_tga(out, rle=True)
    return encode_bmp(out)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in resize: output bytes = md5(payload | WxH)
    repeated to a length proportional to the target area. Same input and
    target → same bytes on any partitioning."""
    h = hashlib.md5(payload + f"|{width}x{height}".encode()).digest()
    return h * max(1, (width * height) // len(h))


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """mapInPandas resize stage: images/videos re-encoded to a target
    geometry, audio passed through untouched. Payload-in/payload-out keeps
    the column opaque, so resize composes with extract_features /
    sample_frames in one pipeline without schema churn."""

    def _resize(p: bytes) -> bytes:
        # real nearest-neighbor resample for the in-container formats,
        # deterministic stand-in for everything else — including payloads
        # whose magic lies or whose body is truncated (features_for's
        # quarantine contract: one corrupt row never kills the task)
        if (
            is_bmp(p)
            or is_png(p)
            or is_jpeg(p)
            or is_webp(p)
            or is_tiff(p)
            or is_netpbm(p)
            or is_tga(p)
        ):
            try:
                return resize_image(p, width, height)
            except Exception:
                pass
        elif is_gif(p):
            try:  # resample every frame; animation and palette survive
                frames = decode_gif(p)
                h, w = frames.shape[1:3]
                yi = np.minimum((np.arange(height) * h) // height, h - 1)
                xi = np.minimum((np.arange(width) * w) // width, w - 1)
                return encode_gif_rgb(
                    [np.ascontiguousarray(f[yi][:, xi]) for f in frames]
                )
            except Exception:
                pass
        elif is_avi(p):
            try:  # AVI: resample every frame; keep the fps AND the codec
                frames = decode_avi(p)
                h, w = frames.shape[1:3]
                yi = np.minimum((np.arange(height) * h) // height, h - 1)
                xi = np.minimum((np.arange(width) * w) // width, w - 1)
                return encode_avi(
                    [np.ascontiguousarray(f[yi][:, xi]) for f in frames],
                    fps=avi_fps(p),
                    codec=avi_codec(p),
                )
            except Exception:
                pass
        elif is_mp4(p):
            try:  # MJPEG MP4: resample every frame; keep container + fps
                frames = decode_mp4(p)
                h, w = frames.shape[1:3]
                yi = np.minimum((np.arange(height) * h) // height, h - 1)
                xi = np.minimum((np.arange(width) * w) // width, w - 1)
                return encode_mp4_mjpeg(
                    [np.ascontiguousarray(f[yi][:, xi]) for f in frames],
                    fps=max(1, int(round(mp4_fps(p)))),
                )
            except Exception:
                pass
        elif is_y4m(p):
            try:  # Y4M: resample every frame; keep the frame rate
                frames = decode_y4m(p)
                h, w = frames.shape[1:3]
                yi = np.minimum((np.arange(height) * h) // height, h - 1)
                xi = np.minimum((np.arange(width) * w) // width, w - 1)
                return encode_y4m(
                    np.ascontiguousarray(frames[:, yi][:, :, xi]),
                    fps=max(1, int(round(y4m_fps(p)))),
                    colorspace="444",
                )
            except Exception:
                pass
        return fake_resize(p, width, height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prelude()
        for pdf in batches:
            visual = pdf["kind"] != "audio"
            out = pdf[["media_id", "kind"]].copy()
            out["payload"] = [
                _resize(p) if v else p
                for p, v in zip(pdf["payload"], visual)
            ]
            out["width"] = np.where(visual, width, pdf["width"]).astype("int32")
            out["height"] = np.where(visual, height, pdf["height"]).astype("int32")
            yield out

    return media.mapInPandas(run, RESIZED_SCHEMA)


RESAMPLED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def fake_resample(payload: bytes, rate: int) -> bytes:
    """Deterministic stand-in for undecodable audio: md5(payload | rate)
    repeated — same bytes and target → same output on any partitioning,
    mirroring fake_resize's quarantine contract."""
    return hashlib.md5(payload + f"|{rate}Hz".encode()).digest() * 4


def resample_media(media: DataFrame, target_rate: int = 16000) -> DataFrame:
    """mapInPandas sample-rate normalization: every audio row re-emitted
    as 16-bit PCM WAV at ``target_rate`` (the canonical interchange
    container — a training pipeline wants ONE rate and ONE layout
    downstream, whatever mix of WAV/FLAC/AIFF/AU/SPHERE/Ogg arrived);
    image/video rows pass through untouched. The kernel is the
    windowed-sinc converter in ``sources/resample.py`` (anti-aliased,
    chunk-size-invariant, memory-bounded); decode goes through
    ``decode_audio`` so an installed native backend accelerates this
    stage too, and the rate conversion itself dispatches through the
    same seam (``native_resample_audio`` — soxr/scipy when importable,
    pure sinc as the always-present fallback; length contract and
    parity bounds in ``sources/native.py``). Undecodable audio
    quarantines to the deterministic ``fake_resample`` stand-in — one
    corrupt row never kills the task.
    Row-wise payload-in/payload-out inside the Arrow batch: output
    partitioning follows input partitioning with no shuffle."""

    def _resample(p: bytes) -> tuple:
        if (
            is_wav(p)
            or is_flac(p)
            or is_aiff(p)
            or is_au(p)
            or is_sphere(p)
            or is_ogg(p)
        ):
            try:
                s, r = decode_audio(p)
                y = native.native_resample_audio(s, r, target_rate)
                if y is None:
                    y = resample_audio(s, r, target_rate)
                return encode_wav(y, target_rate), len(y) * 1000 // target_rate
            except Exception:
                pass  # corrupt/unsupported container: quarantine
        return fake_resample(p, target_rate), 0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prelude()
        for pdf in batches:
            audio = pdf["kind"] == "audio"
            payloads, durs = [], []
            for p, a, d in zip(pdf["payload"], audio, pdf["duration_ms"]):
                if a:
                    np_payload, nd = _resample(p)
                    payloads.append(np_payload)
                    durs.append(nd)
                else:
                    payloads.append(p)
                    durs.append(d)
            out = pdf[["media_id", "kind"]].copy()
            out["payload"] = payloads
            out["sample_rate"] = np.where(audio, target_rate, 0).astype(
                "int32"
            )
            out["duration_ms"] = np.asarray(durs, dtype="int32")
            yield out

    return media.mapInPandas(run, RESAMPLED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """mapInPandas frame sampling: each video row fans out to ``n_frames``
    (media_id, frame_idx, frame_payload) rows — the 1→N batch shape of real
    frame extraction. For AVI payloads in BOTH in-container layouts (DIB
    and MJPEG, sources/avi.py), for animated GIFs (sources/gif.py), and
    for raw Y4M streams (sources/y4m.py, round 13) the
    frames are REAL: evenly-spaced decoded frames, each re-encoded as a BMP
    so downstream stages can ``decode_image`` them. Other video bytes get
    the deterministic md5(payload | idx) stand-in (inter-frame codecs like
    H.264/VP9 are the remaining seam), and undecodable containers
    quarantine to it too. Either
    way non-video rows are dropped and the fan-out happens inside the Arrow
    batch, so output partitioning follows input partitioning with no
    shuffle."""

    def _frames(p: bytes) -> list:
        if is_avi(p) or is_gif(p) or is_y4m(p) or is_mp4(p):
            try:
                if is_avi(p):
                    frames = decode_avi(p)
                elif is_gif(p):
                    frames = decode_gif(p)
                elif is_y4m(p):
                    frames = decode_y4m(p)
                else:
                    frames = decode_mp4(p)
                n = frames.shape[0]
                idx = np.minimum((np.arange(n_frames) * n) // n_frames, n - 1)
                return [encode_bmp(frames[i]) for i in idx]
            except Exception:
                pass  # corrupt container: quarantine to the stand-in
        return [
            hashlib.md5(p + f"|{i}".encode()).digest()
            for i in range(n_frames)
        ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_prelude()
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            if vids.empty:
                continue
            yield pd.DataFrame(
                {
                    "media_id": vids["media_id"].repeat(n_frames),
                    "frame_idx": list(range(n_frames)) * len(vids),
                    "frame_payload": [
                        f for p in vids["payload"] for f in _frames(p)
                    ],
                }
            )

    return media.mapInPandas(run, FRAMES_SCHEMA)
