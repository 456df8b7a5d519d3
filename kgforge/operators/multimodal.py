"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Image decode is REAL for four formats, implemented dependency-free on the
stdlib (this runtime has no PIL/ffmpeg):

- PPM  (P6 binary and P3 ascii, 8-bit RGB)
- BMP  (uncompressed BI_RGB, 24/32-bit, bottom-up or top-down)
- PNG  (8-bit gray / RGB / RGBA, non-interlaced — zlib inflate + all five
  scanline filters: None/Sub/Up/Average/Paeth, per the PNG spec)
- GIF  (87a/89a, non-interlaced, global or local color table — full LZW
  decode with variable code widths, CLEAR/EOI handling, and the 4096-entry
  table cap, per GIF89a spec appendix F; first frame of an animation)

``decode_image`` dispatches on magic bytes; unknown formats (now JPEG
only, whose entropy coding has no stdlib inflate) raise
NotImplementedError unless ``deterministic_fake=True``, which produces a
seeded, shape-correct fake so plumbing tests can still cover arbitrary
payloads. Thumbnails are real nearest-neighbor downsamples of the decoded
pixels; the pooled feature vector is computed from the thumbnail.

Scale notes: binary columns dominate partition bytes — callers should size
``spark.sql.files.maxPartitionBytes`` down (64 MB) for media tables, and
project metadata columns WITHOUT the binary payload whenever possible so
column pruning keeps the payload unread.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), True),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("fmt", StringType(), True),  # ppm | bmp | png | fake
        StructField("sha256", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("width", IntegerType(), True),  # DECODED dims
        StructField("height", IntegerType(), True),
        StructField("feature", ArrayType(FloatType()), True),  # pooled embedding
        StructField("thumb_w", IntegerType(), True),
        StructField("thumb_h", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),  # decoded-pixel channel means
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


# --------------------------- real decoders (stdlib) -------------------------


def _decode_ppm(b: bytes) -> np.ndarray:
    """P6 (binary) / P3 (ascii) 8-bit RGB."""
    if b[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    # header tokens: magic, width, height, maxval — '#' comments allowed
    tokens, i, n = [], 2, len(b)
    while len(tokens) < 3 and i < n:
        c = b[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":
            while i < n and b[i : i + 1] != b"\n":
                i += 1
        else:
            j = i
            while j < n and not b[j : j + 1].isspace():
                j += 1
            tokens.append(b[i:j])
            i = j
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    i += 1  # single whitespace after maxval
    if b[:2] == b"P6":
        px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    else:
        px = np.array(b[i:].split(), dtype=np.uint8)[: w * h * 3]
    return px.reshape(h, w, 3).copy()


def _decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed BI_RGB 24/32-bit BMP; handles bottom-up and top-down."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    h_signed = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    h = abs(h_signed)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3  # rows padded to 4 bytes
    rows = []
    for r in range(h):
        off = data_off + r * stride
        row = np.frombuffer(b, dtype=np.uint8, count=w * nch, offset=off).reshape(w, nch)
        rows.append(row[:, 2::-1])  # BGR(A) -> RGB
    img = np.stack(rows)
    if h_signed > 0:
        img = img[::-1]  # bottom-up storage
    return img.copy()


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (spec §9): raw is h*(1+stride) bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = raw[pos + 1 : pos + 1 + stride].astype(np.int32)
        pos += 1 + stride
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                bb = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + (a + bb) // 2) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
    return out


def _decode_png(b: bytes) -> np.ndarray:
    """8-bit gray / RGB / RGBA, non-interlaced, via stdlib zlib."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, b"", None
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or interlace != 0 or color not in (0, 2, 6):
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, interlace={interlace})"
                )
            meta = (w, h, {0: 1, 2: 3, 6: 4}[color])
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, nch = meta
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    px = _png_unfilter(raw, h, w * nch, nch).reshape(h, w, nch)
    if nch == 1:
        return np.repeat(px, 3, axis=2).copy()
    return px[:, :, :3].copy()  # drop alpha


def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-variant LZW (spec appendix F): LSB-first bit packing, variable
    code width from min+1 up to 12 bits, CLEAR resets the table, EOI ends
    the stream. Returns the index stream (at most ``max_pixels``)."""
    clear = 1 << min_code_size
    end = clear + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    code_size = min_code_size + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = bits = pos = 0
    n = len(data)
    while len(out) < max_pixels:
        while bits < code_size:
            if pos >= n:
                return out  # stream ended without EOI: emit what we have
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        bits -= code_size
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream (code beyond table)")
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out.extend(entry)
        prev = entry
    return out[:max_pixels]


def _decode_gif(b: bytes) -> np.ndarray:
    """GIF87a/89a, non-interlaced, first image frame: header + color-table
    walk, extension skipping, sub-block reassembly, LZW index decode,
    palette lookup. Transparency (a GCE flag) is ignored — indices decode
    to their palette RGB; interlace raises (disclosed unsupported)."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    pos = 6
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", b, pos)
    pos += 7
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x21:  # extension: label then sub-blocks until terminator
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _left, _top, w, h, ipacked = struct.unpack_from("<HHHHB", b, pos)
            pos += 9
            if ipacked & 0x40:
                raise ValueError("interlaced GIF is unsupported")
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(
                    b, dtype=np.uint8, count=3 * n, offset=pos
                ).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image without a color table")
            min_code = b[pos]
            pos += 1
            chunks = []
            while b[pos] != 0:
                ln = b[pos]
                chunks.append(b[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _gif_lzw_decode(b"".join(chunks), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("truncated GIF pixel data")
            return ct[np.array(idx, dtype=np.int32)].reshape(h, w, 3).copy()
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image descriptor")


def decode_image(payload: bytes, deterministic_fake: bool = False):
    """Magic-byte dispatch -> (fmt, HxWx3 uint8 array). Real decode for
    PPM/BMP/PNG/GIF; unknown formats raise unless ``deterministic_fake``."""
    b = payload or b""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png", _decode_png(b)
    if b[:2] == b"BM":
        return "bmp", _decode_bmp(b)
    if b[:2] in (b"P6", b"P3"):
        return "ppm", _decode_ppm(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif", _decode_gif(b)
    if not deterministic_fake:
        raise NotImplementedError(
            "unrecognized image format (only PPM/BMP/PNG/GIF have stdlib "
            "decoders in this runtime; JPEG entropy coding has no stdlib "
            "counterpart); run with deterministic_fake=True for plumbing "
            "tests over arbitrary payloads"
        )
    # seeded fake: pixels derived from payload bytes, fixed 8x8 RGB
    rng = np.random.default_rng(zlib.crc32(b))
    return "fake", rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def thumbnail(img: np.ndarray, max_side: int = 8) -> np.ndarray:
    """Nearest-neighbor downsample so max(h, w) <= max_side (no upscale)."""
    h, w = img.shape[:2]
    th, tw = min(max_side, h), min(max_side, w)
    ys = np.arange(th) * h // th
    xs = np.arange(tw) * w // tw
    return img[ys][:, xs]


# --------------------------- stdlib encoders (fixtures) ---------------------


def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = img[r][:, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + bytes(body)


def encode_png(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + img[y].astype(np.uint8).tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_gif(img: np.ndarray) -> bytes:
    """GIF89a encoder for fixtures: palette = the image's distinct colors
    (<= 256), REAL LZW compression (dictionary growth, width bumps in
    decoder-synchronized order, CLEAR on table overflow), one image block —
    so the round-trip exercises the decoder's full code path, not a
    literal-codes shortcut."""
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3).astype(np.uint8)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("fixture GIF encoder supports <= 256 distinct colors")
    bits = max(1, int(np.ceil(np.log2(max(2, len(colors))))))
    n_ct = 1 << bits
    palette = np.zeros((n_ct, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    min_code = max(2, bits)  # spec: LZW minimum code size >= 2

    clear, end = 1 << min_code, (1 << min_code) + 1
    buf = bytearray()
    acc = nb = 0

    def put(code: int, size: int):
        nonlocal acc, nb
        acc |= code << nb
        nb += size
        while nb >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    def fresh():
        return {(i,): i for i in range(1 << min_code)}, end + 1, min_code + 1

    table, next_code, code_size = fresh()
    put(clear, code_size)
    wseq: tuple[int, ...] = ()
    for px in inverse.astype(np.int64):
        k = wseq + (int(px),)
        if k in table:
            wseq = k
            continue
        put(table[wseq], code_size)
        table[k] = next_code
        next_code += 1
        # width bump mirrors the decoder: it grows its table one code
        # BEHIND the encoder, so bump after assigning code 2^size
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        if next_code == 4096:  # table full: reset both sides
            put(clear, code_size)
            table, next_code, code_size = fresh()
        wseq = (int(px),)
    if wseq:
        put(table[wseq], code_size)
    put(end, code_size)
    if nb:
        buf.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += palette.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(min_code)
    for i in range(0, len(buf), 255):
        sub = buf[i : i + 255]
        out.append(len(sub))
        out += sub
    out += b"\x00\x3b"
    return bytes(out)


# --------------------------- DataFrame operators ----------------------------


def image_features(
    media: DataFrame, feature_dim: int = 16, deterministic_fake: bool = False
) -> DataFrame:
    """Decode -> thumbnail(nearest-neighbor, <=8x8) -> pooled feature vector,
    one mapInPandas pass; Arrow carries binary in, float arrays out."""

    def fn(batches):
        cols = (
            "media_id", "fmt", "sha256", "n_bytes", "width", "height",
            "feature", "thumb_w", "thumb_h", "mean_r", "mean_g", "mean_b",
        )
        for pdf in batches:
            rows = {k: [] for k in cols}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                fmt, img = decode_image(b, deterministic_fake)
                th = thumbnail(img)
                pooled = th.astype(np.float64).mean(axis=(0, 1))  # (3,)
                # project 3 -> feature_dim deterministically
                feat = np.array(
                    [pooled[d % 3] * ((d * 2654435761 % 1000) / 1000.0 + 0.5) for d in range(feature_dim)],
                    dtype=np.float32,
                )
                means = img.astype(np.float64).mean(axis=(0, 1))
                rows["media_id"].append(mid)
                rows["fmt"].append(fmt)
                rows["sha256"].append(hashlib.sha256(b).hexdigest())
                rows["n_bytes"].append(len(b))
                rows["width"].append(img.shape[1])
                rows["height"].append(img.shape[0])
                rows["feature"].append(feat / 255.0)
                rows["thumb_w"].append(th.shape[1])
                rows["thumb_h"].append(th.shape[0])
                rows["mean_r"].append(round(float(means[0]), 6))
                rows["mean_g"].append(round(float(means[1]), 6))
                rows["mean_b"].append(round(float(means[2]), 6))
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(fn, schema=IMAGE_FEATURES_SCHEMA)


def media_color(i: int) -> tuple[int, int, int]:
    """Deterministic solid color for fixture image i (closed-form, so the
    DuckDB oracle can reconstruct decoded channel means arithmetically)."""
    return ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256)


def media_dims(i: int) -> tuple[int, int]:
    """Deterministic (width, height) for fixture image i — spans both sides
    of the 8px thumbnail bound so the downsample path is exercised."""
    return (4 + (i % 7) * 2, 3 + (i % 5) * 3)


def fake_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic media fixture. Every row carries a REAL encoded payload
    of a public format — image rows PPM/BMP/PNG (rotating) of solid-color
    images, audio rows RIFF/WAV PCM square waves, video rows YUV4MPEG2
    solid-luma frame sequences — whose decoded properties are closed-form
    functions of media_id, so decoded dims / channel means / RMS / frame
    lumas are all DuckDB-oracle-able end-to-end (see
    ``kgforge.operators.media_av`` for the audio/video parameter maps)."""
    from .media_av import fake_audio_payload, fake_video_payload

    rows = []
    encoders = [("ppm", encode_ppm, "image/x-portable-pixmap"),
                ("bmp", encode_bmp, "image/bmp"),
                ("png", encode_png, "image/png"),
                ("gif", encode_gif, "image/gif")]
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w, h = media_dims(i)
            r, g, b = media_color(i)
            img = np.tile(np.array([r, g, b], dtype=np.uint8), (h, w, 1))
            _, enc, mime = encoders[(i // 3) % 4]
            payload = enc(img)
            rows.append((i, kind, payload, mime, w, h, None))
        elif kind == "audio":
            payload, dur = fake_audio_payload(i)
            rows.append((i, kind, payload, "audio/wav", None, None, dur))
        else:
            payload, w, h, dur = fake_video_payload(i)
            rows.append((i, kind, payload, "video/x-yuv4mpeg", w, h, dur))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
