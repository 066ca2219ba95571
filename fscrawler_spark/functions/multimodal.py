"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via mapInArrow.

``probe_media_headers`` parses container headers only (PNG IHDR, JPEG
SOF marker walk, GIF logical screen, BMP info header, WEBP
VP8/VP8L/VP8X): pure byte arithmetic, no image library, so
width/height/channels/bit-depth metadata extraction runs for real in
any environment — exactly the fields Tika's image parser family
surfaces as metadata (tika/.../TikaInstance.java:136-186 wires
ImageParser/JpegParser, whose output is dimensions + EXIF-ish metadata,
not pixels). No pixel is decoded.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- container-format header probe (stdlib-only, always real) -----------
#
# Each parser reads ONLY the container header — a few dozen bytes of
# struct arithmetic per item, no pixel decode — which is why this tier
# needs no image library and costs O(1) per item regardless of payload
# size. Formats: the five raster containers the extractor's MIME sniffer
# already dispatches to needs_ocr (functions/sniff.py magics) plus WEBP,
# TIFF and RIFF/WAVE audio.

_JPEG_SOF = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type -> samples/pixel


def _u16be(b: bytes, i: int) -> int:
    return (b[i] << 8) | b[i + 1]


def _u32be(b: bytes, i: int) -> int:
    return (b[i] << 24) | (b[i + 1] << 16) | (b[i + 2] << 8) | b[i + 3]


def _u16le(b: bytes, i: int) -> int:
    return b[i] | (b[i + 1] << 8)


def _u24le(b: bytes, i: int) -> int:
    return b[i] | (b[i + 1] << 8) | (b[i + 2] << 16)


def _u32le(b: bytes, i: int) -> int:
    return b[i] | (b[i + 1] << 8) | (b[i + 2] << 16) | (b[i + 3] << 24)


def _probe_png(b: bytes) -> dict | None:
    # 8-byte signature, then the IHDR chunk MUST come first (PNG spec
    # 5.6): length(4) 'IHDR'(4) width(4) height(4) depth(1) color(1)
    if len(b) < 26 or b[12:16] != b"IHDR":
        return None
    color = b[25]
    return {
        "mime": "image/png",
        "width": _u32be(b, 16),
        "height": _u32be(b, 20),
        "channels": _PNG_CHANNELS.get(color),
        "bit_depth": b[24],
    }


def _probe_jpeg(b: bytes) -> dict | None:
    # marker walk to the first SOFn frame header: precision(1)
    # height(2) width(2) components(1) after the 2-byte segment length
    i, n = 2, len(b)
    while i + 9 < n:
        if b[i] != 0xFF:
            return None  # lost sync — not a well-formed JPEG stream
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in _JPEG_SOF:
            return {
                "mime": "image/jpeg",
                "width": _u16be(b, i + 7),
                "height": _u16be(b, i + 5),
                "channels": b[i + 9],
                "bit_depth": b[i + 4],
            }
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:  # standalone
            i += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / entropy data: give up
            return None
        i += 2 + _u16be(b, i + 2)
    return None


def _probe_gif(b: bytes) -> dict | None:
    if len(b) < 11:
        return None
    packed = b[10]
    return {
        "mime": "image/gif",
        "width": _u16le(b, 6),
        "height": _u16le(b, 8),
        "channels": 3,  # palette entries are RGB triples
        "bit_depth": ((packed >> 4) & 0x7) + 1,  # color resolution field
    }


def _probe_bmp(b: bytes) -> dict | None:
    if len(b) < 30 or _u32le(b, 14) < 40:  # BITMAPINFOHEADER or later
        return None
    bitcount = _u16le(b, 28)
    w = _u32le(b, 18)
    h = _u32le(b, 22)
    if h >= 1 << 31:  # negative i32 = top-down row order
        h = (1 << 32) - h
    return {
        "mime": "image/bmp",
        "width": w,
        "height": h,
        "channels": {32: 4, 24: 3, 16: 3}.get(bitcount, 1),
        "bit_depth": {32: 8, 24: 8, 16: 5}.get(bitcount, bitcount),
    }


def _probe_webp(b: bytes) -> dict | None:
    if len(b) < 25 or b[8:12] != b"WEBP":
        return None
    four = b[12:16]
    if four == b"VP8 " and len(b) >= 30 and b[23:26] == b"\x9d\x01\x2a":  # lossy sync
        return {
            "mime": "image/webp",
            "width": _u16le(b, 26) & 0x3FFF,
            "height": _u16le(b, 28) & 0x3FFF,
            "channels": 3,
            "bit_depth": 8,
        }
    if four == b"VP8L" and b[20] == 0x2F:  # lossless signature byte
        bits = _u32le(b, 21)
        return {
            "mime": "image/webp",
            "width": (bits & 0x3FFF) + 1,
            "height": ((bits >> 14) & 0x3FFF) + 1,
            "channels": 4 if (bits >> 28) & 1 else 3,
            "bit_depth": 8,
        }
    if four == b"VP8X" and len(b) >= 30:  # extended: flags, 3 reserved, two u24-1
        return {
            "mime": "image/webp",
            "width": _u24le(b, 24) + 1,
            "height": _u24le(b, 27) + 1,
            "channels": 4 if b[20] & 0x10 else 3,
            "bit_depth": 8,
        }
    return None


def _probe_tiff(b: bytes) -> dict | None:
    # IFD walk for ImageWidth(256)/ImageLength(257)/BitsPerSample(258)/
    # SamplesPerPixel(277); inline SHORT/LONG values only (the common
    # baseline-TIFF layout). Bounded: first IFD, <=256 entries.
    le = b[:2] == b"II"
    u16 = _u16le if le else _u16be
    u32 = _u32le if le else _u32be
    if len(b) < 8 or u16(b, 2) != 42:
        return None
    ifd = u32(b, 4)
    if ifd + 2 > len(b):
        return None
    n = min(u16(b, ifd), 256)
    vals: dict[int, int] = {}
    for k in range(n):
        e = ifd + 2 + 12 * k
        if e + 12 > len(b):
            break
        tag, typ = u16(b, e), u16(b, e + 2)
        if tag in (256, 257, 258, 277) and typ in (3, 4):
            vals[tag] = u16(b, e + 8) if typ == 3 else u32(b, e + 8)
    if 256 not in vals or 257 not in vals:
        return None
    return {
        "mime": "image/tiff",
        "width": vals[256],
        "height": vals[257],
        "channels": vals.get(277, 1),
        "bit_depth": vals.get(258, 1),
    }


def _probe_wav(b: bytes) -> dict | None:
    # RIFF/WAVE chunk walk to 'fmt ' (channels/rate/bits) and 'data'
    # (byte length -> duration). Chunks are word-aligned.
    if len(b) < 12 or b[8:12] != b"WAVE":
        return None
    out = {"mime": "audio/wav", "channels": None, "bit_depth": None,
           "sample_rate": None, "duration_ms": None}
    i, byte_rate, data_len = 12, None, None
    while i + 8 <= len(b):
        cid, clen = b[i : i + 4], _u32le(b, i + 4)
        if cid == b"fmt " and i + 24 <= len(b):
            out["channels"] = _u16le(b, i + 10)
            out["sample_rate"] = _u32le(b, i + 12)
            byte_rate = _u32le(b, i + 16)
            if i + 24 + 2 <= len(b):
                out["bit_depth"] = _u16le(b, i + 22)
        elif cid == b"data":
            data_len = clen
        i += 8 + clen + (clen & 1)
    if byte_rate and data_len is not None:
        out["duration_ms"] = int(data_len * 1000 // byte_rate)
    if out["sample_rate"] is None:
        return None
    return out


def probe_media_header(payload: bytes) -> dict | None:
    """Parse one payload's container header: dict with at least ``mime``
    (plus width/height/channels/bit_depth for images, channels/
    sample_rate/bit_depth/duration_ms for WAV audio), or None when no
    known container matches. Pure stdlib byte arithmetic — total, never
    raises on hostile bytes (a truncated/garbled header is just None)."""
    b = payload or b""
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            return _probe_png(b)
        if b[:2] == b"\xff\xd8":
            return _probe_jpeg(b)
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return _probe_gif(b)
        if b[:2] == b"BM":
            return _probe_bmp(b)
        if b[:4] == b"RIFF":
            return _probe_webp(b) or _probe_wav(b)
        if b[:4] in (b"II*\x00", b"MM\x00*"):
            return _probe_tiff(b)
    except IndexError:  # truncated header mid-parse
        return None
    return None


PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def probe_media_headers(
    df: DataFrame, header_prefix_bytes: int | None = 65536
) -> DataFrame:
    """REAL (no library, any environment) media metadata extraction:
    mapInArrow over binary payloads parsing container headers only —
    PNG/JPEG/GIF/BMP/WEBP/TIFF dimensions + channels + bit depth, WAV
    channel/rate/duration. Unrecognized payloads get
    decode_error='unrecognized_container' and NULL metadata, never a
    job failure. Stateless per batch: partitioning free-form, scales
    embarrassingly parallel, O(header) per item.

    ``header_prefix_bytes`` (default 64 KiB) slices each payload
    JVM-side BEFORE the Arrow boundary — the probe never needs pixel/
    sample data, so gigabyte media items must not ride the Python
    transfer (byte_len still reports the FULL length, computed in the
    same codegen projection). 64 KiB clears every fixed-offset header
    plus JPEG marker walks past typical EXIF/thumbnail APP segments;
    raise it for JPEGs with pathological metadata prefixes, or pass
    None to ship whole payloads (fixture-scale only). All chunk-walk
    parsers (JPEG/WAV/TIFF) are truncation-total: a header beyond the
    prefix degrades to 'unrecognized_container', never a wrong value
    — WAV's duration in particular needs only the data-chunk HEADER
    (its recorded length), not the samples."""

    cols = [F.col("media_id"), F.col("kind")]
    if header_prefix_bytes is not None:
        if header_prefix_bytes < 32:
            raise ValueError(
                f"header_prefix_bytes must be >= 32 (the largest fixed "
                f"header region), got {header_prefix_bytes}"
            )
        src = df.select(
            *cols,
            F.length(F.col("payload")).alias("_full_len"),
            F.substring(F.col("payload"), 1, header_prefix_bytes).alias("payload"),
        )
    else:
        src = df.select(
            *cols, F.length(F.col("payload")).alias("_full_len"), F.col("payload")
        )

    def gen(batches: Iterator) -> Iterator:
        import pyarrow as pa

        types = {"string": pa.string(), "integer": pa.int32()}
        schema = pa.schema([(f.name, types[f.dataType.typeName()]) for f in PROBE_SCHEMA.fields])
        for b in batches:
            rows = []
            for mid, kind, flen, p in zip(
                *(b.column(c).to_pylist() for c in ("media_id", "kind", "_full_len", "payload"))
            ):
                # schema fields the probe did not fill come back null
                info = probe_media_header(p or b"") or {}
                rows.append({**info, "media_id": mid, "kind": kind, "byte_len": flen or 0,
                             "decode_error": None if info else "unrecognized_container"})
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return src.mapInArrow(gen, PROBE_SCHEMA)


def _synth_png(width: int, height: int) -> bytes:
    """Author a complete, spec-valid RGB8 PNG (zlib stream + CRCs) —
    stdlib-only, deterministic. Used by the media fixture so the probe
    runs against REAL container bytes, not stand-ins."""
    import struct
    import zlib
    from binascii import crc32

    def chunk(typ: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc32(typ + data))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes((width * 3) % 251 for _ in range(width * 3))
    idat = zlib.compress(row * height, 1)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _synth_wav(channels: int, rate: int, frames: int) -> bytes:
    """Author a complete RIFF/WAVE file via the stdlib ``wave`` encoder
    (16-bit PCM) — an independent implementation of the format the
    probe parses."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * frames * channels)
    return buf.getvalue()


def media_probe_fixture(df: DataFrame) -> DataFrame:
    """Deterministic REAL-container media fixture from a numeric-id text
    table: image rows carry a spec-valid PNG sized (id%64+1, id%37+1),
    audio rows a stdlib-`wave`-encoded PCM file ((id%10+1)*80 frames at
    8 kHz, id%2+1 channels — exactly (id%10+1)*10 ms), video rows an
    unrecognizable payload (frame decode is the documented stub tier).
    Every probed field is closed-form in doc_id, so a plain-SQL oracle
    can value-check the whole probe→metadata path (q_media_features)."""

    def gen(batches: Iterator) -> Iterator:
        import pyarrow as pa

        schema = pa.schema([("media_id", pa.string()), ("kind", pa.string()),
                            ("payload", pa.binary())])
        for b in batches:
            out = {"media_id": [], "kind": [], "payload": []}
            for did in b.column(0).to_pylist():
                i = int(did)
                k = ("image", "audio", "video")[i % 3]
                if k == "image":
                    p = _synth_png(i % 64 + 1, i % 37 + 1)
                elif k == "audio":
                    p = _synth_wav(i % 2 + 1, 8000, (i % 10 + 1) * 80)
                else:
                    p = b"\x00opaque-video-payload:" + str(i).encode()
                out["media_id"].append(str(i))
                out["kind"].append(k)
                out["payload"].append(p)
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return df.select("doc_id").mapInArrow(
        gen, "media_id string, kind string, payload binary"
    )
