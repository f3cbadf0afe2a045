"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested. WAV (RIFF header walk) and BMP
(BITMAPINFOHEADER / BITMAPCOREHEADER) decode for REAL with stdlib
`struct` alone -- sample rate, channels, bit depth, duration, dimensions
become content-derived features end-to-end. Other formats (JPEG frames,
video) stay STUBBED behind `decode_available()` because no image/audio
libraries exist in this container -- `deterministic_fake=True`
substitutes a seeded, content-hash derived feature vector for those so
downstream operators (dedup, ANN) remain testable end-to-end.

At scale: media rows are fat like html rows, so the same fat-row salting
(plans/partitioning.py) applies; mapInPandas streams Arrow batches so one
task never materializes more than `maxRecordsPerBatch` blobs.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha1", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("error", T.StringType()),
    ]
)


def decode_available():
    """True when a real decoder stack (PIL / libav) is importable."""
    try:  # pragma: no cover - not available in this container
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _fake_features(payload):
    """Deterministic stand-in feature vector: FEATURE_DIM floats derived
    from the SHA1 of the payload (pure function of content)."""
    digest = hashlib.sha1(payload).digest()
    doubled = (digest * ((FEATURE_DIM * 4) // len(digest) + 1))[: FEATURE_DIM * 4]
    ints = struct.unpack(f">{FEATURE_DIM}I", doubled)
    return [float(v % 1000) / 1000.0 for v in ints]


# ---- real stdlib decoders (no PIL/libav needed) -----------------------------------


def parse_wav(payload):
    """RIFF/WAVE header parse with stdlib `struct` alone -> dict of
    (audio_format, n_channels, sample_rate, byte_rate, block_align,
    bits_per_sample, data_bytes, duration_ms, n_frames). Walks the RIFF
    chunk list (chunks are word-aligned) rather than assuming fmt/data
    at fixed offsets. Raises ValueError on non-WAV payloads."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data_bytes = None
    pos = 12
    while pos + 8 <= len(payload):
        chunk_id = payload[pos:pos + 4]
        (chunk_size,) = struct.unpack_from("<I", payload, pos + 4)
        if chunk_id == b"fmt " and chunk_size >= 16 \
                and pos + 8 + 16 <= len(payload):
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif chunk_id == b"data":
            data_bytes = min(chunk_size, max(len(payload) - pos - 8, 0))
        pos += 8 + chunk_size + (chunk_size & 1)
    if fmt is None or data_bytes is None:
        raise ValueError("WAVE payload missing fmt /data chunk")
    audio_format, n_channels, sample_rate, byte_rate, block_align, bits = fmt
    return {
        "audio_format": audio_format,
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "byte_rate": byte_rate,
        "block_align": block_align,
        "bits_per_sample": bits,
        "data_bytes": data_bytes,
        "duration_ms": data_bytes * 1000 // byte_rate if byte_rate else 0,
        "n_frames": data_bytes // block_align if block_align else 0,
    }


def parse_bmp(payload):
    """BMP header parse with stdlib `struct` alone -> dict of (width,
    height, top_down, planes, bit_count, file_size). Handles both the
    modern BITMAPINFOHEADER (>= 40 bytes, signed dims, negative height
    = top-down) and the legacy 12-byte BITMAPCOREHEADER. Raises
    ValueError on non-BMP payloads."""
    if len(payload) < 26 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (file_size,) = struct.unpack_from("<I", payload, 2)
    (header_size,) = struct.unpack_from("<I", payload, 14)
    if header_size >= 40 and len(payload) >= 30:
        width, height = struct.unpack_from("<ii", payload, 18)
        planes, bit_count = struct.unpack_from("<HH", payload, 26)
    elif header_size == 12:
        width, height = struct.unpack_from("<HH", payload, 18)
        planes, bit_count = struct.unpack_from("<HH", payload, 22)
    else:
        raise ValueError(f"unsupported BMP header size {header_size}")
    return {
        "width": width,
        "height": abs(height),
        "top_down": height < 0,
        "planes": planes,
        "bit_count": bit_count,
        "file_size": file_size,
    }


def parse_png(payload):
    """PNG header parse with stdlib `struct` alone -> dict of (width,
    height, bit_depth, color_type, interlace, n_chunks). Verifies the
    8-byte signature and walks the chunk list (4-byte BE length + type
    + data + CRC) to the mandatory IHDR; full pixel decode stays out of
    scope (zlib'd filtered scanlines -- a real decoder's job). Raises
    ValueError on non-PNG or truncated payloads."""
    if len(payload) < 33 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, n_chunks, ihdr = 8, 0, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        if ctype == b"IHDR":
            if length < 13 or pos + 8 + 13 > len(payload):
                raise ValueError("truncated PNG IHDR")
            ihdr = struct.unpack_from(">IIBBBBB", payload, pos + 8)
        n_chunks += 1
        if ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + CRC
    if ihdr is None:
        raise ValueError("PNG payload missing IHDR chunk")
    width, height, depth, color_type, _comp, _filt, interlace = ihdr
    if width == 0 or height == 0:
        raise ValueError("PNG IHDR with zero dimension")
    return {
        "width": width,
        "height": height,
        "bit_depth": depth,
        "color_type": color_type,
        "interlace": interlace,
        "n_chunks": n_chunks,
    }


def parse_gif(payload):
    """GIF header parse with stdlib `struct` alone -> dict of (width,
    height, version, gct_size, color_resolution) from the logical
    screen descriptor. Raises ValueError on non-GIF payloads."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width, height = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    gct_flag = bool(packed & 0x80)
    return {
        "width": width,
        "height": height,
        "version": payload[3:6].decode("ascii"),
        "gct_size": (2 << (packed & 0x07)) if gct_flag else 0,
        "color_resolution": ((packed >> 4) & 0x07) + 1,
    }


# SOFn markers carrying frame dimensions; C4/C8/CC are DHT/JPG/DAC
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# progressive-DCT frames: SOF2/6 (Huffman), SOF10/14 (arithmetic),
# each in plain and differential form
_JPEG_PROGRESSIVE_SOF = frozenset({0xC2, 0xC6, 0xCA, 0xCE})


def parse_jpeg(payload):
    """JPEG header parse with stdlib `struct` alone -> dict of (width,
    height, precision, n_components, progressive) from the first SOFn
    segment. Walks the marker-segment stream (FF marker + BE u16
    length) past APPn/DQT/DHT to the start-of-frame; stops at SOS
    (entropy-coded data follows -- a real decoder's job). Raises
    ValueError on non-JPEG or truncated payloads."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker desync at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone marker, no length
            continue
        if marker == 0xD9:  # EOI before any SOF
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError("truncated JPEG segment")
        if marker in _JPEG_SOF_MARKERS:
            if seg_len < 8:
                raise ValueError("truncated JPEG SOF segment")
            precision, height, width, n_comp = struct.unpack_from(
                ">BHHB", payload, pos + 4
            )
            if width == 0 or height == 0:
                raise ValueError("JPEG SOF with zero dimension")
            return {
                "width": width,
                "height": height,
                "precision": precision,
                "n_components": n_comp,
                "progressive": marker in _JPEG_PROGRESSIVE_SOF,
            }
        if marker == 0xDA:  # SOS without a prior SOF: malformed
            break
        pos += 2 + seg_len
    raise ValueError("JPEG payload missing SOF header")


def stdlib_features(payload):
    """Content-derived features for the formats stdlib can parse:
    RIFF/WAVE and BMP (full header decode) plus PNG/GIF/JPEG (header-
    level dimensions -- the three dominant web image formats; pixel
    decode stays honestly stubbed behind decode_available()). Fixed
    slot layout inside the FEATURE_DIM vector (slot 0 is a format tag:
    1=wav, 2=bmp, 3=png, 4=gif, 5=jpeg); unknown formats raise
    ValueError so the caller can fall back or emit an error row."""
    out = [0.0] * FEATURE_DIM
    if payload[:4] == b"RIFF":
        meta = parse_wav(payload)
        out[0] = 1.0
        out[1] = float(meta["sample_rate"])
        out[2] = float(meta["n_channels"])
        out[3] = float(meta["bits_per_sample"])
        out[4] = float(meta["duration_ms"])
        out[5] = float(meta["byte_rate"])
        out[6] = float(meta["n_frames"])
        return out
    if payload[:2] == b"BM":
        meta = parse_bmp(payload)
        out[0] = 2.0
        out[1] = float(meta["width"])
        out[2] = float(meta["height"])
        out[3] = float(meta["bit_count"])
        out[4] = 1.0 if meta["top_down"] else 0.0
        out[5] = float(meta["file_size"])
        return out
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        meta = parse_png(payload)
        out[0] = 3.0
        out[1] = float(meta["width"])
        out[2] = float(meta["height"])
        out[3] = float(meta["bit_depth"])
        out[4] = float(meta["color_type"])
        out[5] = float(meta["interlace"])
        out[6] = float(meta["n_chunks"])
        return out
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        meta = parse_gif(payload)
        out[0] = 4.0
        out[1] = float(meta["width"])
        out[2] = float(meta["height"])
        out[3] = float(meta["gct_size"])
        out[4] = 89.0 if meta["version"] == "89a" else 87.0
        out[5] = float(meta["color_resolution"])
        return out
    if payload[:2] == b"\xff\xd8":
        meta = parse_jpeg(payload)
        out[0] = 5.0
        out[1] = float(meta["width"])
        out[2] = float(meta["height"])
        out[3] = float(meta["precision"])
        out[4] = float(meta["n_components"])
        out[5] = 1.0 if meta["progressive"] else 0.0
        return out
    raise ValueError("no stdlib decoder for this payload format")


def resolve_decoder(spec):
    """'module.path:function' -> the callable (payload_bytes ->
    list[float]). This is what makes a real decoder a CONFIG change:
    `--decoder my_decoders:clip_embed` on the job CLI, no engine edit."""
    import importlib

    if callable(spec):
        return spec
    if not spec or ":" not in spec:
        raise ValueError(
            f"decoder spec must be 'module.path:function', got {spec!r}"
        )
    module_name, func_name = spec.split(":", 1)
    module = importlib.import_module(module_name)
    fn = getattr(module, func_name, None)
    if not callable(fn):
        raise ValueError(f"{spec!r} does not name a callable")
    return fn


def extract_media_features(media_df, deterministic_fake=True,
                           batch_feature_fn=None):
    """media table -> feature table via mapInPandas (Arrow-streamed).

    batch_feature_fn: a callable (payload_bytes -> list[float]) or a
    'module:function' spec string (resolve_decoder) plugging a real
    decoder. Without one, WAV and BMP payloads decode for REAL through
    the stdlib header parsers (stdlib_features); other formats fall
    back to the deterministic content-hash fake when
    deterministic_fake=True, else produce a per-row error (honest stub
    -- no PIL/libav in this container)."""
    if batch_feature_fn is None:
        fallback = _fake_features if deterministic_fake else None

        def batch_feature_fn(payload):
            try:
                return stdlib_features(payload)
            except ValueError:
                if fallback is None:
                    raise NotImplementedError(
                        "no stdlib decoder for this payload format and "
                        "image/audio libraries are not present; pass "
                        "batch_feature_fn or use deterministic_fake=True"
                    )
                return fallback(payload)
    elif isinstance(batch_feature_fn, str):
        batch_feature_fn = resolve_decoder(batch_feature_fn)

    def process(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = {
                "media_id": [], "kind": [], "n_bytes": [],
                "content_sha1": [], "features": [], "error": [],
            }
            # column-array iteration (no pandas Series boxing per row);
            # per-blob work is inherently sequential inside the batch
            for media_id, kind, payload in zip(
                pdf["media_id"].to_numpy(),
                pdf["kind"].to_numpy(),
                pdf["payload"].tolist(),
            ):
                rows["media_id"].append(media_id)
                rows["kind"].append(kind)
                if payload is None:
                    rows["n_bytes"].append(0)
                    rows["content_sha1"].append(None)
                    rows["features"].append(None)
                    rows["error"].append("empty payload")
                    continue
                payload = bytes(payload)
                rows["n_bytes"].append(len(payload))
                rows["content_sha1"].append(hashlib.sha1(payload).hexdigest())
                try:
                    rows["features"].append(batch_feature_fn(payload))
                    rows["error"].append(None)
                except (NotImplementedError, ValueError,
                        struct.error) as exc:
                    # unknown format without a fake fallback, or a
                    # truncated/corrupt header: error row, never a task
                    # failure (one bad blob must not kill a partition)
                    rows["features"].append(None)
                    rows["error"].append(str(exc))
            yield pd.DataFrame(rows)

    return media_df.select(
        "media_id", "kind", "payload"
    ).mapInPandas(process, FEATURES_SCHEMA)


def make_wav_bytes(sample_rate=8000, n_channels=1, duration_ms=250,
                   seed=0):
    """Minimal valid 16-bit PCM RIFF/WAVE blob (deterministic content)."""
    import random

    rng = random.Random(seed)
    block_align = n_channels * 2
    byte_rate = sample_rate * block_align
    data = bytes(rng.getrandbits(8)
                 for _ in range(byte_rate * duration_ms // 1000))
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, byte_rate,
                      block_align, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def make_bmp_bytes(width=4, height=3, seed=0):
    """Minimal valid 24-bit BITMAPINFOHEADER BMP blob (deterministic
    pixels; rows padded to 4 bytes per the format)."""
    import random

    rng = random.Random(seed)
    row_bytes = (width * 3 + 3) & ~3
    pixels = bytes(rng.getrandbits(8) for _ in range(row_bytes * height))
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                       0, len(pixels), 2835, 2835, 0, 0)
    file_size = 14 + len(info) + len(pixels)
    header = b"BM" + struct.pack("<IHHI", file_size, 0, 0, 14 + len(info))
    return header + info + pixels


def make_png_bytes(width=4, height=3, seed=0):
    """Minimal VALID PNG blob (real chunk CRCs, real zlib'd scanlines:
    filter byte 0 + raw RGB per row) -- deterministic content."""
    import random
    import zlib

    rng = random.Random(seed)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(rng.getrandbits(8) for _ in range(width * 3))
        for _ in range(height)
    )
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def make_gif_bytes(width=4, height=3, seed=0):
    """Header-valid GIF89a blob: logical screen descriptor + 4-entry
    global color table + trailer (no LZW image data -- the fixture
    covers the header parse, which is all the stdlib tier reads)."""
    import random

    rng = random.Random(seed)
    packed = 0x80 | 0x01  # GCT present, 4 entries (2 << 1)
    gct = bytes(rng.getrandbits(8) for _ in range(4 * 3))
    return (b"GIF89a" + struct.pack("<HH", width, height)
            + bytes([packed, 0, 0]) + gct + b"\x3b")


def make_jpeg_bytes(width=4, height=3, seed=0):
    """Header-valid JPEG blob: SOI + APP0/JFIF + DQT stub + SOF0 with
    the real dimensions + EOI (no entropy-coded scan -- the fixture
    covers the marker walk to SOF, which is all the stdlib tier
    reads)."""
    import random

    rng = random.Random(seed)

    def segment(marker, data):
        return b"\xff" + bytes([marker]) \
            + struct.pack(">H", len(data) + 2) + data

    app0 = segment(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = segment(0xDB, b"\x00" + bytes(rng.getrandbits(8)
                                        for _ in range(64)))
    sof0 = segment(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01",
    )
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


def build_fake_media_df(spark, n_rows=32):
    """Deterministic synthetic media table for tests/bench: audio rows
    are REAL PCM WAVs and image rows rotate through REAL BMP/PNG/GIF/
    JPEG blobs (the stdlib header parsers produce content-derived
    features for all of them end-to-end); video rows stay opaque random
    bytes (decode honestly stubbed)."""
    import random

    rng = random.Random(42)
    kinds = ["image", "audio", "video"]
    image_makers = (make_bmp_bytes, make_png_bytes, make_gif_bytes,
                    make_jpeg_bytes)
    rows = []
    for i in range(n_rows):
        kind = kinds[i % 3]
        if kind == "image":
            maker = image_makers[(i // 3) % len(image_makers)]
            payload = maker(width=4 + i % 5, height=3 + i % 4,
                            seed=42 + i)
        elif kind == "audio":
            payload = make_wav_bytes(duration_ms=100 + (i % 5) * 50,
                                     seed=42 + i)
        else:
            payload = bytes(rng.getrandbits(8)
                            for _ in range(64 + (i % 5) * 32))
        rows.append(
            (i, kind, payload, f"{kind}/fake",
             640 if kind == "image" else None,
             480 if kind == "image" else None,
             5000 if kind == "video" else (3000 if kind == "audio" else None))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
