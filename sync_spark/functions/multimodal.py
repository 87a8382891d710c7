"""Multimodal columns: image/audio/video as opaque BINARY + typed
metadata (SURVEY.md §7 Phase 4; §2.10 extension surface).

Design for 100 TB of media:
- payloads are opaque ``binary`` columns with a ``meta`` struct
  (kind/format/width/height/duration_ms/size_bytes) so planning-time
  operations (filtering, routing, sampling) never touch bytes;
- ingestion from object storage via ``spark.read.format("binaryFile")``
  (path/length/modificationTime/content);
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` Arrow-batched pipelines — the ONLY place in the
  engine where Python touches row data, because codecs are Python-only;
- the codec call is isolated behind ``_decode_payload``. Decoded FOR
  REAL with stdlib + numpy: RIFF/PCM WAV (fmt/data chunk walk →
  sample rate, channels, duration), binary PPM P6 (header parse →
  dims), PNG (pure-zlib inflate, CRC-verified chunk walk, full
  filter-0..4 unfilter, 8-bit gray/RGB/RGBA), and baseline JPEG
  (functions/jpeg.py — Annex-K canonical-Huffman entropy decode,
  matrix IDCT, 4:4:4/4:2:2/4:2:0, restart markers; encoder for the
  resize path, deterministic bytes) — pixel/sample math in
  ``audio_features`` / ``image_stats`` / ``resize_image``. Formats
  needing external codec libraries this container does not ship
  (MP3/H.264) raise ``NotImplementedError`` behind the same
  seam, and the engine's deterministic fake header keeps end-to-end
  tests independent of any codec.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FAKE_MAGIC = b"SSFK"  # sync_spark fake-media header


def wav_payload(
    media_id: int, seconds: float = 1.0, rate: int = 8000, amplitude: int = 8000
) -> bytes:
    """Build a REAL (playable) mono 16-bit PCM WAV: a deterministic
    sine whose frequency derives from media_id. Sample synthesis is
    one numpy vector op (per-sample struct.pack measured ~10× slower
    across a corpus of files); truncation toward zero matches the
    old int() rounding exactly."""
    import numpy as np

    n = int(seconds * rate)
    freq = 220.0 + (media_id % 16) * 55.0
    i = np.arange(n, dtype=np.float64)
    vals = np.trunc(amplitude * np.sin(2 * np.pi * freq * i / rate)).astype("<i2")
    samples = vals.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)  # PCM, mono, 16-bit
    data = samples
    riff_body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff_body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def ppm_payload(media_id: int, width: int = 8, height: int = 6) -> bytes:
    """Build a REAL binary PPM (P6) image: deterministic RGB gradient
    seeded by media_id. Pure stdlib."""
    header = f"P6\n{width} {height}\n255\n".encode()
    px = bytearray()
    for y in range(height):
        for x in range(width):
            px += bytes(((x * 7 + media_id) % 256, (y * 11 + media_id) % 256, (x + y) % 256))
    return header + bytes(px)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_payload(
    media_id: int, width: int = 8, height: int = 6, color_type: int = 2
) -> bytes:
    """Build a REAL PNG (pure stdlib: zlib + struct): the same
    deterministic RGB gradient as ``ppm_payload`` so the two image
    containers share one closed-form oracle. Scanline filters cycle
    through all five types (None/Sub/Up/Average/Paeth) by row, so a
    roundtrip exercises the decoder's full unfilter path, not just
    filter 0. ``color_type``: 2 = RGB, 6 = RGBA (alpha 255),
    0 = grayscale (R channel)."""
    import numpy as np
    import zlib

    rgb = np.zeros((height, width, 3), dtype=np.uint8)
    ys, xs = np.mgrid[0:height, 0:width]
    rgb[..., 0] = (xs * 7 + media_id) % 256
    rgb[..., 1] = (ys * 11 + media_id) % 256
    rgb[..., 2] = (xs + ys) % 256
    if color_type == 2:
        raw = rgb
    elif color_type == 6:
        raw = np.concatenate([rgb, np.full((height, width, 1), 255, np.uint8)], axis=2)
    elif color_type == 0:
        raw = rgb[..., :1]
    else:
        raise ValueError(f"unsupported color_type {color_type}")
    return _png_from_raw(raw, color_type)


def gif_payload(media_id: int, width: int = 8, height: int = 6) -> bytes:
    """Build a REAL single-frame GIF89a (functions/gif.py): the same
    deterministic gradient as ppm/png/jpeg_payload. Thumbnail-scale
    gradients stay under 256 unique colors, so the exact-palette
    encoder makes the roundtrip LOSSLESS — pixel values can ride the
    shared closed-form oracle exactly like PPM/PNG."""
    import numpy as np

    from sync_spark.functions.gif import gif_encode

    rgb = np.zeros((height, width, 3), dtype=np.uint8)
    ys, xs = np.mgrid[0:height, 0:width]
    rgb[..., 0] = (xs * 7 + media_id) % 256
    rgb[..., 1] = (ys * 11 + media_id) % 256
    rgb[..., 2] = (xs + ys) % 256
    return gif_encode(rgb)


def animated_gif_payload(
    media_id: int,
    width: int = 8,
    height: int = 6,
    n_frames: int = 4,
    delay_ms: int = 100,
) -> bytes:
    """Build a REAL animated GIF89a: the deterministic gradient with
    the frame index folded into the channel math, so every frame is
    distinct and closed-form predictable."""
    import numpy as np

    from sync_spark.functions.gif import gif_encode_frames

    frames = []
    ys, xs = np.mgrid[0:height, 0:width]
    for f in range(n_frames):
        rgb = np.zeros((height, width, 3), dtype=np.uint8)
        rgb[..., 0] = (xs * 7 + media_id + f * 31) % 256
        rgb[..., 1] = (ys * 11 + media_id) % 256
        rgb[..., 2] = (xs + ys + f) % 256
        frames.append(rgb)
    return gif_encode_frames(frames, delay_ms=delay_ms)


def jpeg_payload(media_id: int, width: int = 8, height: int = 6) -> bytes:
    """Build a REAL baseline JPEG (functions/jpeg.py): the same
    deterministic gradient as ppm_payload/png_payload, so all three
    image containers share ONE closed-form dims oracle (JPEG is
    lossy, so only the metadata legs — never pixel values — ride the
    shared oracle)."""
    import numpy as np

    from sync_spark.functions.jpeg import jpeg_encode

    rgb = np.zeros((height, width, 3), dtype=np.uint8)
    ys, xs = np.mgrid[0:height, 0:width]
    rgb[..., 0] = (xs * 7 + media_id) % 256
    rgb[..., 1] = (ys * 11 + media_id) % 256
    rgb[..., 2] = (xs + ys) % 256
    return jpeg_encode(rgb, quality=90)


def _png_from_raw(raw, color_type: int) -> bytes:
    """Encode an (h, w, bpp) uint8 array as a PNG with per-row
    cycling filters (also the resize kernel's re-encoder)."""
    import numpy as np
    import zlib

    height, width, bpp = raw.shape
    lines = bytearray()
    prev = np.zeros(width * bpp, dtype=np.int16)
    for y in range(height):
        cur = raw[y].reshape(-1).astype(np.int16)
        ftype = y % 5
        left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prev
        elif ftype == 3:
            filt = cur - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            filt = cur - pred
        lines.append(ftype)
        lines += (filt % 256).astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    idat = zlib.compress(bytes(lines))
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _parse_png_header(payload: bytes) -> tuple[int, int, int, int]:
    """IHDR walk → (width, height, bit_depth, color_type). Raises
    ValueError on malformed/truncated headers or an IHDR CRC mismatch
    (callers map that to a NULL row)."""
    import zlib

    if payload[:8] != _PNG_SIG or len(payload) < 33:
        raise ValueError("malformed PNG: bad signature or truncated")
    (ln,) = struct.unpack(">I", payload[8:12])
    if payload[12:16] != b"IHDR" or ln != 13:
        raise ValueError("malformed PNG: first chunk is not IHDR")
    ihdr = payload[16:29]
    (crc,) = struct.unpack(">I", payload[29:33])
    if zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF != crc:
        raise ValueError("malformed PNG: IHDR CRC mismatch")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w <= 0 or h <= 0:
        raise ValueError(f"malformed PNG: non-positive dimensions {w}x{h}")
    if interlace != 0:
        raise ValueError("unsupported PNG: Adam7 interlacing")
    return w, h, depth, color


_PNG_BPP = {0: 1, 2: 3, 6: 4}  # 8-bit gray / RGB / RGBA


def _decode_png(payload: bytes):
    """Full pixel decode (pure stdlib + numpy) → (w, h, RGB uint8
    array). Chunk CRCs are verified; 8-bit gray/RGB/RGBA supported
    (gray replicated, alpha dropped — stats/resize operate on RGB).
    Filters 0-4 are unfiltered per spec; the left-dependent ones
    (Sub/Average/Paeth) are sequential by definition, so that loop
    runs per scanline pixel — fine for the thumbnail-scale images the
    in-engine codec targets; a production path swaps in a C codec
    behind this same seam."""
    import numpy as np
    import zlib

    w, h, depth, color = _parse_png_header(payload)
    if depth != 8 or color not in _PNG_BPP:
        raise ValueError(f"unsupported PNG: depth={depth} color_type={color}")
    bpp = _PNG_BPP[color]
    # chunk walk from after IHDR
    pos, idat = 33, bytearray()
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln or pos + 12 + ln > len(payload):
            raise ValueError("malformed PNG: truncated chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"malformed PNG: {ctype!r} CRC mismatch")
        if ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        # zlib.error is not a ValueError — without this re-raise a
        # CRC-valid-IHDR / corrupt-IDAT payload would escape the
        # kernels' except (ValueError, IndexError) guards and kill
        # the whole Arrow batch, violating the one-bad-row contract.
        raise ValueError(f"malformed PNG: IDAT inflate failed: {exc}") from exc
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("malformed PNG: decompressed size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — vectorized
            cur = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):
            cur = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (int(line[i]) + pred) % 256
        else:
            raise ValueError(f"malformed PNG: unknown filter type {ftype}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, bpp)
    if color == 0:
        px = np.repeat(px, 3, axis=2)
    elif color == 6:
        px = px[..., :3]
    return w, h, px


def _parse_wav(payload: bytes) -> tuple[int, int, int, int, int, int, int]:
    """ONE walk of the RIFF chunk list → (fmt_tag, rate, channels,
    bits, duration_ms, data_off, data_len). Raises ValueError on a
    structurally broken file (missing/truncated fmt chunk, data chunk
    overrunning the payload) — callers decide whether that is a NULL
    row (feature kernels) or an error (nothing currently)."""
    fmt_tag = rate = channels = bits = None
    data_off = data_len = 0
    seen_data = False
    pos = 12  # past RIFF....WAVE
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"fmt ":
            # bound against BOTH the payload and the chunk's own
            # declared length — an ln < 16 fmt chunk would otherwise
            # silently parse bytes of the next chunk's header
            if ln < 16 or pos + 24 > len(payload):
                raise ValueError("malformed WAV: truncated fmt chunk")
            fmt_tag, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8 : pos + 24]
            )
        elif cid == b"data":
            data_off, data_len, seen_data = pos + 8, ln, True
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if not rate or not channels or not bits:
        raise ValueError("malformed WAV: missing fmt chunk")
    if bits % 8 != 0:
        # sub-byte widths would divide by zero below; byte-aligned
        # widths we can't SAMPLE-decode (24-bit) still parse here —
        # duration is metadata; the feature kernel's dtype table
        # rejects them per-row
        raise ValueError(f"malformed WAV: unsupported bits_per_sample {bits}")
    if not seen_data:
        # without this a fmt-only file would read as fabricated
        # silence (0 samples, rms 0.0) instead of a NULL row
        raise ValueError("malformed WAV: missing data chunk")
    if data_off + data_len > len(payload):
        raise ValueError("malformed WAV: data chunk overruns payload")
    duration_ms = int(data_len * 1000 // (rate * channels * (bits // 8)))
    return fmt_tag, rate, channels, bits, duration_ms, data_off, data_len


def _parse_ppm_header(payload: bytes) -> tuple[int, int, int]:
    """P6 header → (width, height, pixel_offset). Handles the
    whitespace/comment grammar of the format; raises ValueError on a
    malformed or truncated header (callers map that to a NULL row)."""
    fields: list[int] = []
    i = 2  # past 'P6'
    while len(fields) < 3 and i < len(payload):
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to EOL
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        try:
            fields.append(int(payload[i:j]))
        except ValueError as exc:
            raise ValueError(f"malformed PPM header token {payload[i:j]!r}") from exc
        i = j
    if len(fields) < 3:
        raise ValueError("malformed PPM: truncated header")
    w, h, off = fields[0], fields[1], i + 1
    if w <= 0 or h <= 0:
        # a negative dimension makes w*h*3 negative, defeating the
        # truncation guard below AND numpy's count= (negative reads
        # the whole buffer) — fabricated stats instead of a NULL row;
        # zero-area would mean NaN channel means
        raise ValueError(f"malformed PPM: non-positive dimensions {w}x{h}")
    if off + w * h * 3 > len(payload):
        raise ValueError("malformed PPM: pixel data truncated")
    return w, h, off


def _decode_payload(payload: bytes | None) -> tuple[int | None, int | None, int | None]:
    """Decode step → (width, height, duration_ms).

    NULL / too-short payloads decode to NULL metadata (the schema
    declares payload nullable; one bad row must not kill the whole
    Arrow batch). RIFF/PCM WAV and binary PPM decode FOR REAL
    (stdlib chunk/header walks); the engine's fake header decodes
    deterministically; compressed formats raise — they need codec
    libraries this container does not ship.
    """
    if payload is None or len(payload) < 16:
        return (None, None, None)
    if payload[:4] == _FAKE_MAGIC:
        return struct.unpack("<iii", payload[4:16])
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            _, _, _, _, duration_ms, _, _ = _parse_wav(payload)
        except (ValueError, struct.error):
            return (None, None, None)  # corrupt file = one NULL row, not a dead batch
        return (None, None, duration_ms)
    if payload[:2] == b"P6":
        try:
            w, h, _ = _parse_ppm_header(payload)
        except ValueError:
            return (None, None, None)
        return (w, h, None)
    if payload[:8] == _PNG_SIG:
        try:
            w, h, _, _ = _parse_png_header(payload)
        except ValueError:
            return (None, None, None)
        return (w, h, None)
    if payload[:2] == b"\xff\xd8":
        from sync_spark.functions.jpeg import parse_jpeg_header

        try:
            w, h = parse_jpeg_header(payload)
        except ValueError:
            return (None, None, None)
        return (w, h, None)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from sync_spark.functions.gif import gif_meta, parse_gif_header

        try:
            # light walk (no LZW): dims always; duration only when the
            # stream is actually animated (a still GIF has no duration,
            # matching the PNG/PPM image legs)
            w, h, n_frames, total_ms = gif_meta(payload)
            return (w, h, total_ms if n_frames > 1 else None)
        except ValueError:
            pass
        try:
            # stream truncated mid-data: dims still live in the screen
            # descriptor (PNG-leg parity — the header outlives the body)
            w, h = parse_gif_header(payload)
        except ValueError:
            return (None, None, None)
        return (w, h, None)
    if payload[:3] == b"ID3" or (
        payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        from sync_spark.functions.mp3 import mp3_meta

        try:
            # metadata walk (frame headers + Xing/VBRI), the audio
            # analog of the GIF light walk: exact duration without
            # PCM synthesis
            return (None, None, mp3_meta(payload)["duration_ms"])
        except ValueError:
            return (None, None, None)
    if payload[:3] == b"\x00\x00\x01" or payload[:4] == b"\x00\x00\x00\x01":
        from sync_spark.functions.h264 import h264_meta

        try:
            # Annex-B SPS walk: real coded dims (crop applied), no
            # entropy decode — what ffprobe reports for resolution
            m = h264_meta(payload)
            return (m["width"], m["height"], None)
        except ValueError:
            return (None, None, None)
    raise NotImplementedError(
        "compressed media SAMPLE decoding (MP3 PCM synthesis / H.264 "
        "pixel reconstruction) and container demuxing (MKV/MP4) require "
        "codec libraries; WAV, PPM, PNG, GIF, baseline JPEG, MP3 "
        "metadata (frame walk), H.264 metadata (SPS walk) and the "
        "deterministic fake codec are available in this environment"
    )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode: one pandas batch in, one out — no
    per-row Python calls from the JVM."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [_decode_payload(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "duration_ms": [d[2] for d in decoded],
                    "size_bytes": [len(p) if p is not None else None for p in pdf["payload"]],
                }
            )

    return df.select("media_id", "kind", "payload").mapInPandas(batches, DECODED_SCHEMA)


def resize_meta(df: DataFrame, max_side: int) -> DataFrame:
    """Resize planning is pure column math (aspect-preserving target
    dims); only the pixel rewrite would enter the stub codec. Keeping
    the math JVM-side means the 100 TB 'what would this cost' pass
    never decodes a byte."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.when(
        F.greatest(w, h) > max_side, F.greatest(w, h).cast("double") / F.lit(max_side)
    ).otherwise(F.lit(1.0))
    return df.withColumn("target_width", F.round(w / scale).cast("int")).withColumn(
        "target_height", F.round(h / scale).cast("int")
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.IntegerType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, every_ms: int) -> DataFrame:
    """Frame sampling for video payloads: emits one row per sampled
    timestamp. Animated GIFs decode FOR REAL (functions/gif.py plays
    the animation; the digest is the sha256 of the decoded frame the
    timestamp lands in, so it changes iff the pixels do); other
    containers ride the deterministic fake-codec digest (the H.264
    seam this container cannot close). Corrupt payloads yield no rows,
    never a dead batch. The explode happens inside the Arrow batch —
    output rows ≫ input rows without a JVM-side explode of the binary
    column."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame_digest": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    _, _, duration_ms = _decode_payload(payload)
                except NotImplementedError:
                    continue  # compressed container without a codec
                if duration_ms is None:
                    continue  # null/undecodable/still payload: no frames
                starts = digests = None
                if payload[:6] in (b"GIF87a", b"GIF89a"):
                    from sync_spark.functions.gif import gif_frames

                    try:
                        _, _, frames = gif_frames(payload)
                    except ValueError:
                        continue  # meta walked but pixels corrupt
                    starts, acc = [], 0
                    for delay, _px in frames:
                        starts.append(acc)
                        acc += delay
                    digests = [
                        hashlib.sha256(px.tobytes()).hexdigest()[:16]
                        for _d, px in frames
                    ]
                for idx, ts in enumerate(range(0, max(duration_ms, 1), every_ms)):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_ts_ms"].append(ts)
                    if digests is None:
                        out["frame_digest"].append(
                            hashlib.sha256(payload + ts.to_bytes(4, "little")).hexdigest()[:16]
                        )
                    else:
                        # the animation frame this timestamp lands in
                        fi = max(i for i, s in enumerate(starts) if s <= ts)
                        out["frame_digest"].append(digests[fi])
            yield pd.DataFrame(out)

    return df.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        batches, FRAMES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)

# WAVE format tags → sample dtype per bit width. 1 = integer PCM
# (8-bit is UNSIGNED, bias 128; wider widths signed), 3 = IEEE float.
_WAV_DTYPES = {
    (1, 8): ("u1", 128.0),
    (1, 16): ("<i2", 0.0),
    (1, 32): ("<i4", 0.0),
    (3, 32): ("<f4", 0.0),
    (3, 64): ("<f8", 0.0),
}


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio feature extraction for PCM / IEEE-float WAV
    payloads: numpy frombuffer over the data chunk → RMS energy +
    peak amplitude + exact sample counts. 8-bit PCM is unsigned with
    a 128 bias — removed before energy math (digital silence must
    read rms 0, not 128). Arrow-batched mapInPandas like every media
    kernel; NULL / non-WAV / corrupt / unsupported-format payloads
    yield NULL features — ONE bad row never kills the batch."""
    import numpy as np

    cols = ("media_id", "sample_rate", "n_samples", "duration_ms", "rms", "peak")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                row = (None, None, None, None, None)
                try:
                    if p is not None and len(p) >= 16 and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                        fmt_tag, rate, channels, bits, duration_ms, off, ln = _parse_wav(p)
                        dtype, bias = _WAV_DTYPES[(fmt_tag, bits)]
                        x = np.frombuffer(p, dtype=dtype, count=ln // (bits // 8), offset=off)
                        xf = x.astype(np.float64) - bias
                        row = (
                            rate,
                            len(x) // channels,
                            duration_ms,
                            float(np.sqrt((xf * xf).mean())) if len(x) else 0.0,
                            float(np.abs(xf).max()) if len(x) else 0.0,
                        )
                except (ValueError, KeyError, struct.error):
                    pass  # corrupt or unsupported variant → NULL row
                for k, v in zip(cols[1:], row):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(batches, AUDIO_FEATURES_SCHEMA)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def _decode_image_pixels(p: bytes):
    """(w, h, RGB uint8 array, container) for P6 / PNG payloads.
    Raises ValueError for unsupported containers or malformed files —
    the image kernels map that to a NULL row."""
    import numpy as np

    if len(p) >= 2 and p[:2] == b"P6":
        w, h, off = _parse_ppm_header(p)
        px = np.frombuffer(p, dtype=np.uint8, count=w * h * 3, offset=off).reshape(
            h, w, 3
        )
        return w, h, px, "ppm"
    if len(p) >= 8 and p[:8] == _PNG_SIG:
        w, h, px = _decode_png(p)
        return w, h, px, "png"
    if len(p) >= 2 and p[:2] == b"\xff\xd8":
        from sync_spark.functions.jpeg import jpeg_decode

        w, h, px = jpeg_decode(p)
        return w, h, px, "jpeg"
    if len(p) >= 6 and p[:6] in (b"GIF87a", b"GIF89a"):
        from sync_spark.functions.gif import gif_decode

        w, h, px = gif_decode(p)
        return w, h, px, "gif"
    raise ValueError("not a supported image container")


def image_stats(df: DataFrame) -> DataFrame:
    """REAL image statistics for binary PPM (P6) and PNG payloads:
    full pixel decode → per-channel means. NULL / non-image /
    malformed payloads yield NULL stats — one bad row never kills the
    batch."""

    cols = ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                row = (None, None, None, None, None)
                try:
                    if p is not None:
                        w, h, px, _ = _decode_image_pixels(p)
                        means = px.reshape(-1, 3).mean(axis=0)
                        row = (w, h, float(means[0]), float(means[1]), float(means[2]))
                except (ValueError, IndexError):
                    pass  # malformed / unsupported container → NULL row
                for k, v in zip(cols[1:], row):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(batches, IMAGE_STATS_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_image(df: DataFrame, max_side: int) -> DataFrame:
    """REAL aspect-preserving nearest-neighbor resize of binary PPM
    (P6) and PNG payloads: numpy fancy-indexing over the decoded pixel
    plane, re-encoded in the SAME container the payload arrived in
    (PPM → PPM, PNG → PNG). Images already within ``max_side`` pass
    through byte-identical (no decode-re-encode drift). Target-dim
    math is EXACTLY ``resize_meta``'s plan-time column math (HALF_UP
    rounding — consistency asserted in tests), so the plan-time cost
    estimate and the pixel kernel can never disagree. NULL /
    non-image / malformed payloads yield a NULL row — one bad row
    never kills the Arrow batch."""
    import numpy as np

    cols = ("media_id", "width", "height", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                row = (None, None, None)
                try:
                    if p is not None:
                        w, h, px, container = _decode_image_pixels(p)
                        if max(w, h) <= max_side:
                            row = (w, h, p)  # pass-through, byte-identical
                        else:
                            scale = max(w, h) / max_side
                            # int(x + 0.5) == Spark F.round HALF_UP for
                            # positive x — keep in lockstep with
                            # resize_meta
                            tw = max(1, int(w / scale + 0.5))
                            th = max(1, int(h / scale + 0.5))
                            ys = (np.arange(th) * h) // th
                            xs = (np.arange(tw) * w) // tw
                            rp = np.ascontiguousarray(px[ys][:, xs])
                            if container == "png":
                                payload = _png_from_raw(rp, 2)
                            elif container == "gif":
                                from sync_spark.functions.gif import gif_encode

                                payload = gif_encode(rp)
                            elif container == "jpeg":
                                from sync_spark.functions.jpeg import jpeg_encode

                                # fixed quality + 4:4:4: deterministic
                                # bytes, minimal re-encode loss
                                payload = jpeg_encode(rp, quality=90)
                            else:
                                header = f"P6\n{tw} {th}\n255\n".encode()
                                payload = header + rp.tobytes()
                            row = (tw, th, payload)
                except (ValueError, IndexError):
                    pass  # malformed → NULL row
                for k, v in zip(cols[1:], row):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


RESAMPLED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resample_audio(df: DataFrame, target_rate: int) -> DataFrame:
    """REAL nearest-sample resampling of mono 16-bit PCM WAV payloads
    to ``target_rate``: numpy index mapping (sample i of the output
    reads input sample ⌊i·src/dst⌋ — decimation keeps every k-th
    sample, upsampling repeats), emitting a valid WAV at the new rate.
    Payloads already at ``target_rate`` pass through byte-identical.
    Non-mono / non-16-bit / compressed / malformed payloads yield a
    NULL row (a production resampler would route those to a codec
    library; the Spark plumbing — batch shape, pass-through, error
    isolation — is exactly what that version needs too)."""
    import numpy as np

    cols = ("media_id", "sample_rate", "n_samples", "duration_ms", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                row = (None, None, None, None)
                try:
                    if p is not None and len(p) >= 16 and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                        fmt_tag, rate, channels, bits, dur, off, ln = _parse_wav(p)
                        if fmt_tag == 1 and channels == 1 and bits == 16:
                            if rate == target_rate:
                                row = (rate, ln // 2, dur, p)
                            else:
                                x = np.frombuffer(p, dtype="<i2", count=ln // 2, offset=off)
                                n_out = int(len(x) * target_rate // rate)
                                idx = (np.arange(n_out) * rate) // target_rate
                                y = x[idx].astype("<i2")
                                data = y.tobytes()
                                fmt = struct.pack(
                                    "<HHIIHH", 1, 1, target_rate, target_rate * 2, 2, 16
                                )
                                body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                                body += b"data" + struct.pack("<I", len(data)) + data
                                wav = b"RIFF" + struct.pack("<I", len(body)) + body
                                row = (
                                    target_rate,
                                    n_out,
                                    int(n_out * 1000 // target_rate),
                                    wav,
                                )
                except (ValueError, struct.error):
                    pass  # malformed → NULL row
                for k, v in zip(cols[1:], row):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(batches, RESAMPLED_SCHEMA)
