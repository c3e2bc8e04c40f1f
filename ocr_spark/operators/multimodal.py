"""Multimodal column plumbing: image/audio/video as opaque binary.

The engine treats media exactly like html: an opaque BinaryType column
plus typed metadata.  Each operator is one :func:`media_rows` call: an
Arrow-batched ``mapInArrow`` pass in which a failing payload is a row.

What is REAL without any codec: magic-byte validity classification and
header-derived dimensions for PNG/JPEG/GIF/TIFF (O4 semantics — the
reference PIL-opens bytes only to verify integrity,
services/file_processor.py:49-62); full PNG pixel decode
(``decode_png_pixels``: inflate + unfilter, stdlib zlib); full
RIFF/WAV PCM sample decode (``decode_wav_samples``).  Header
classification is the default path.

What is stubbed (no Pillow/ffmpeg in this container — SURVEY.md §7.0):
*compressed codecs* (JPEG pixels, MP3/AAC, video).  Such payloads yield
``processing_error`` rows unless a ``decode_fn`` (payload: bytes ->
dict) is supplied — a real codec, or ``_fake_decode`` (deterministic,
seeded from the payload digest, for plumbing tests); the Spark plan is
unchanged either way.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.extractor.core import parse_image_header
from ocr_spark.operators.extract import map_payloads

__all__ = ["MEDIA_SCHEMA", "EXIF_SCHEMA", "AHASH_SCHEMA", "decode_media",
           "decode_png_pixels", "decode_wav_samples", "parse_exif",
           "exif_extract", "sample_frames", "ahash_from_png",
           "image_ahash", "ahash_near_dup", "dhash_from_png",
           "image_dhash", "audio_segments", "parse_gif_structure",
           "gif_structure"]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),        # image|audio|video
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        # double, not float: PNG features are exact rational means
        # (integer channel sum / pixel count) and the SQL oracle
        # recomputes the identical IEEE division — a float32 round-trip
        # would just add a second rounding step to keep in sync
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)


def media_rows(df: DataFrame, payload_col: str, id_col: str,
               schema: T.StructType, fn,
               err_status: str = "processing_error",
               many: bool = False) -> DataFrame:
    """The media/OCR scaffold: ``schema`` rows from one ``map_payloads``
    pass, ``id_col`` cast to string as ``media_id``.  ``fn(bytes(payload))``
    returns a dict keyed by field names (with ``many``, a list of them);
    an omitted key reads NULL, an omitted ``status`` reads ``ok``.  If
    ``fn`` raises, NULL payload included, the payload is ONE row with
    status ``err_status``, error text ``"Type: message"`` and NULL (-1 in
    a non-nullable field, like ``frame_idx``) elsewhere — O16."""
    fields = [f for f in schema.fields if f.name != "media_id"]
    blank = {f.name: None if f.nullable else -1 for f in fields}

    def row(out: dict) -> tuple:
        d = {**blank, "status": "ok", **out}
        return tuple(d[f] for f in blank)

    def row_fn(payload):
        try:
            out = fn(bytes(payload))
            return [row(r) for r in out] if many else row(out)
        except Exception as exc:  # error rows, not exceptions
            err = row({"status": err_status,
                       "error_msg": f"{type(exc).__name__}: {exc}"})
            return [err] if many else err

    ids = df.select(F.col(id_col).cast("string").alias("media_id"),
                    payload_col)
    return map_payloads(ids, payload_col, ("media_id",), fields, row_fn,
                        many)


# PNG color type -> samples per pixel (8-bit depth only).  Type 3
# (palette) decodes as 1 index byte per pixel, then expands through
# the PLTE table to RGB.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _decode_png_raw(payload: bytes):
    """Decode a PNG to raw unfiltered pixel bytes: returns
    ``(width, height, channels, pixels)`` where ``pixels`` is the
    row-major interleaved byte buffer (len = w*h*channels).  Shared by
    :func:`decode_png_pixels` (per-channel means) and
    :func:`image_ahash` (perceptual hash); raises on anything outside
    8-bit gray/RGB/GA/RGBA non-interlaced."""
    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG: depth={depth} color_type={color} "
            f"interlace={interlace} (8-bit gray/palette/RGB/GA/RGBA "
            "non-interlaced only)")
    if w == 0 or h == 0:
        raise ValueError("zero-dimension PNG")
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"IDAT size mismatch: got {len(raw)}, want {h * (stride + 1)}")
    prev = bytearray(stride)
    pixels = bytearray()
    for y in range(h):
        row = bytearray(raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)])
        f = raw[y * (stride + 1)]
        if f == 1:      # Sub: left
            for i in range(ch, stride):
                row[i] = (row[i] + row[i - ch]) & 0xFF
        elif f == 2:    # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif f == 3:    # Average
            for i in range(stride):
                left = row[i - ch] if i >= ch else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:    # Paeth
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter type {f}")
        pixels += row
        prev = row
    if color == 3:                      # palette expansion -> RGB
        import numpy as np

        if plte is None or len(plte) == 0 or len(plte) % 3:
            raise ValueError("palette PNG without a valid PLTE chunk")
        m = len(plte) // 3
        idx = np.frombuffer(bytes(pixels), dtype=np.uint8)
        if int(idx.max(initial=0)) >= m:
            raise ValueError(
                f"palette index {int(idx.max())} out of range "
                f"(PLTE has {m} entries)")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(m, 3)
        return int(w), int(h), 3, pal[idx].tobytes()
    return int(w), int(h), ch, bytes(pixels)


def decode_png_pixels(payload: bytes) -> dict:
    """REAL pixel decode for PNG, pure stdlib (zlib) — no Pillow, no
    codec: chunk walk, IHDR parse, multi-IDAT concatenation + inflate,
    scanline unfiltering for all five PNG filter types (None/Sub/Up/
    Average/Paeth, RFC 2083 §6), then per-channel mean features.

    Supports 8-bit greyscale / RGB / grey+alpha / RGBA, non-interlaced
    (the overwhelming majority of web PNGs); anything else raises, and
    ``decode_media`` turns that into a processing_error ROW, never an
    exception.  Returns the decode_media field dict with ``feature`` =
    per-channel means — exact rationals (int sum / pixel count), so a
    SQL oracle recomputes them bit-identically.

    This closes the reference's image modality with an honest decoder:
    the reference PIL-opens uploaded images before OCR
    (/root/reference/services/file_processor.py:49-62); here the same
    validation+decode step runs inside the Arrow batch kernel."""
    w, h, ch, pixels = _decode_png_raw(payload)
    sums = [0] * ch
    for c in range(ch):       # strided slice sums run in C, not Python
        sums[c] = sum(pixels[c::ch])
    n_px = w * h
    return {
        "kind": "image",
        "width": int(w),
        "height": int(h),
        "n_frames": 1,
        "feature": [s / n_px for s in sums],
    }


def _decode_wav_raw(payload: bytes):
    """Decode a RIFF/WAV 16-bit PCM payload to raw samples: returns
    ``(n_channels, sample_rate, samples)`` where ``samples`` is the
    interleaved int64 numpy array.  Shared by
    :func:`decode_wav_samples` (whole-file features) and
    :func:`audio_segments` (frame-energy segmentation); raises on
    anything outside 16-bit integer PCM."""
    import sys

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE signature")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + clen]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            if len(body) < clen:
                raise ValueError(
                    f"data chunk truncated: want {clen} bytes, "
                    f"got {len(body)}")
            data = body
        pos += 8 + clen + (clen & 1)    # chunks are word-aligned
    if fmt is None or len(fmt) < 16:
        raise ValueError("missing fmt chunk")
    audio_fmt, n_ch, rate, _brate, _align, bits = struct.unpack(
        "<HHIIHH", fmt[:16])
    if audio_fmt != 1 or bits != 16 or n_ch == 0 or rate == 0:
        raise ValueError(
            f"unsupported WAV: fmt={audio_fmt} bits={bits} "
            f"channels={n_ch} (16-bit integer PCM only)")
    if data is None or len(data) < 2:
        raise ValueError("missing data chunk")
    s = np.frombuffer(data[:len(data) - (len(data) % 2)], dtype="<i2")
    if sys.byteorder == "big":          # pragma: no cover
        s = s.byteswap()
    return int(n_ch), int(rate), s.astype(np.int64)


def decode_wav_samples(payload: bytes) -> dict:
    """REAL sample decode for RIFF/WAV PCM, pure stdlib + numpy — no
    codec: chunk walk (word-aligned per the RIFF spec, tolerant of
    extra chunks in any order), fmt validation (16-bit integer PCM
    only — anything else raises and decode_media turns it into a
    processing_error ROW), little-endian int16 sample parse, then
    exact integer-accumulator features: ``feature = [mean, rms, peak]``
    over all interleaved samples.  mean is an exact rational
    (int sum / count) and rms one IEEE sqrt away from one, so a SQL
    oracle recomputes them bit-identically.

    Closes the audio modality the same way decode_png_pixels closes
    images: the decode step is real, only the model-based featurizer
    a production pipeline would bolt on stays pluggable."""
    import numpy as np

    n_ch, rate, s = _decode_wav_raw(payload)
    n = int(s.size)                     # exact integer accumulators:
    mean = int(s.sum()) / n             # |s|<=2^15, s^2*n < 2^63 for
    rms = float(np.sqrt(int((s * s).sum()) / n))  # data under 8 EiB
    return {
        "kind": "audio",
        "duration_ms": (n // n_ch) * 1000 // rate,
        "n_frames": n // n_ch,
        "feature": [mean, rms, float(int(np.abs(s).max()))],
    }


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("ahash_bits", T.StringType(), True),   # 64 x '0'/'1'
        T.StructField("ahash_hex", T.StringType(), True),    # 16 hex chars
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)


def _luma_plane(payload: bytes):
    """Decode a PNG to its ``(h, w)`` int64 luma plane: the integer
    BT.601 weights ``(299r + 587g + 114b) // 1000``, channel 0 for
    gray/GA — exact, so a SQL oracle recomputes it bit-for-bit."""
    import numpy as np

    w, h, ch, pixels = _decode_png_raw(payload)
    a = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    a = a.astype(np.int64)
    if ch >= 3:
        return (299 * a[:, :, 0] + 587 * a[:, :, 1]
                + 114 * a[:, :, 2]) // 1000
    return a[:, :, 0]


def _hash_row(w: int, h: int, bits) -> dict:
    """An image-hash row: the bits row-major as '0'/'1' text and hex."""
    bit_str = "".join("1" if b else "0" for b in bits)
    return {"width": w, "height": h, "ahash_bits": bit_str,
            "ahash_hex": f"{int(bit_str, 2):016x}"}


def ahash_from_png(payload: bytes, grid: int = 8) -> dict:
    """Perceptual average-hash (aHash) over REAL decoded PNG pixels:
    luma plane -> ``grid x grid`` block means -> one bit per block
    (1 iff the block mean exceeds the global mean), row-major.

    Everything is exact integer arithmetic so a SQL oracle can
    recompute the hash bit-for-bit: luma is the integer BT.601 weights
    ``(299r + 587g + 114b) // 1000`` (channel 0 for gray/GA), blocks
    require ``w % grid == 0 and h % grid == 0`` (else raise -> error
    row; a production pipeline would resample first, which needs a
    resampler the oracle could not reproduce), and the bit test is the
    cross-multiplied comparison ``grid*grid * block_sum > total_sum``
    — no float division anywhere.

    Near-identical images (small crops/overlays/banner swaps — the
    web-dedup case) differ in a handful of bits, so Hamming distance
    over this hash is the image analogue of simhash over text
    (operators/dedup.py): candidate generation via pigeonhole chunks,
    exact verify via XOR popcount.  Reference parity: the reference's
    image intake dedups retries by byte digest only
    (/root/reference/services/file_processor.py:49-62); this is the
    content-level upgrade of that capability."""
    luma = _luma_plane(payload)
    h, w = luma.shape
    if w % grid or h % grid:
        raise ValueError(
            f"aHash needs dimensions divisible by {grid}, got {w}x{h} "
            "(resample upstream)")
    bh, bw = h // grid, w // grid
    # block sums: exact ints; (grid, bh, grid, bw) pooling
    blocks = luma.reshape(grid, bh, grid, bw).sum(axis=(1, 3))
    total = int(blocks.sum())
    bits = grid * grid * blocks.reshape(-1) > total
    return _hash_row(w, h, bits)


def dhash_from_png(payload: bytes, grid: int = 8) -> dict:
    """Difference-hash (dHash) over REAL decoded PNG pixels: luma ->
    ``(grid+1) x grid`` block means -> one bit per horizontally
    adjacent pair (1 iff the left block's mean is strictly below the
    right's), row-major — 64 bits at the default grid.

    Complements :func:`ahash_from_png`: aHash thresholds against the
    global mean, so a uniform brightness shift can move many bits at
    once; dHash encodes local gradients, which survive global
    brightness/contrast changes (the re-encoded-thumbnail case).  Same
    exactness contract: integer luma, equal-size blocks (requires
    ``w % (grid+1) == 0 and h % grid == 0``, else raise -> error row),
    and the bit test compares raw integer block sums (equal blocks, so
    no division).  The output hex key feeds the same
    :func:`ahash_near_dup` pigeonhole blocking."""
    luma = _luma_plane(payload)
    h, w = luma.shape
    cols = grid + 1
    if w % cols or h % grid:
        raise ValueError(
            f"dHash needs width divisible by {cols} and height by "
            f"{grid}, got {w}x{h} (resample upstream)")
    bh, bw = h // grid, w // cols
    blocks = luma.reshape(grid, bh, cols, bw).sum(axis=(1, 3))
    bits = (blocks[:, :-1] < blocks[:, 1:]).reshape(-1)
    return _hash_row(w, h, bits)


def image_dhash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", grid: int = 8) -> DataFrame:
    """Per-image difference-hash rows — same schema, batching, and
    error taxonomy as :func:`image_ahash` (the two hashes are drop-in
    alternatives feeding the same near-dup blocking)."""
    return media_rows(df, payload_col, id_col, AHASH_SCHEMA,
                      partial(dhash_from_png, grid=grid))


def image_ahash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", grid: int = 8) -> DataFrame:
    """Per-image perceptual hash rows, Arrow-batched (same shape and
    error taxonomy as :func:`decode_media`: bad payloads become
    ``processing_error`` ROWS).  The binary column never shuffles —
    the hash is computed where the bytes already live, and only the
    80-byte hash row moves downstream."""
    return media_rows(df, payload_col, id_col, AHASH_SCHEMA,
                      partial(ahash_from_png, grid=grid))


def ahash_near_dup(hashes: DataFrame, max_hamming: int = 3,
                   id_col: str = "media_id",
                   hex_col: str = "ahash_hex") -> DataFrame:
    """Near-duplicate image pairs by aHash Hamming distance — the
    simhash pigeonhole recipe applied to the image hash (same proof:
    4 disjoint 16-bit chunks, so any pair within Hamming distance 3
    agrees exactly on at least one chunk; ``max_hamming`` > 3 would
    need more/smaller chunks and raises instead of silently missing
    pairs).

    Scale shape (the only one that survives 10^12 images): candidates
    come from an equi-join on (chunk_idx, chunk_value) — never
    all-pairs — and the exact Hamming verify is four JVM-side
    ``bit_count(a XOR b)`` terms over ints carried with the candidate
    row, so no join-back touches the hash table again."""
    if max_hamming > 3:
        raise ValueError(
            "pigeonhole with 4x16-bit chunks is exact only for "
            f"max_hamming <= 3, got {max_hamming}")
    ok = hashes.where(F.col(hex_col).isNotNull())
    chunks = [
        F.conv(F.substring(F.col(hex_col), 1 + 4 * i, 4), 16, 10)
        .cast("long").alias(f"c{i}")
        for i in range(4)
    ]
    keyed = ok.select(F.col(id_col).alias("mid"), *chunks)
    bands = keyed.select(
        "mid", "c0", "c1", "c2", "c3",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.col(f"c{i}").alias("val")) for i in range(4)
        ])).alias("bk"),
    ).select("mid", "c0", "c1", "c2", "c3",
             F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))
    left = bands
    right = bands.select(
        F.col("mid").alias("mid_b"), F.col("c0").alias("d0"),
        F.col("c1").alias("d1"), F.col("c2").alias("d2"),
        F.col("c3").alias("d3"), "band", "val")
    ham = sum(
        F.bit_count(F.col(f"c{i}").bitwiseXOR(F.col(f"d{i}")))
        for i in range(4)
    )
    pairs = (
        left.join(right, ["band", "val"])
        .where(F.col("mid") < F.col("mid_b"))
        .select(F.col("mid").alias("media_a"),
                F.col("mid_b").alias("media_b"),
                ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


GIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("total_ms", T.LongType(), True),
        T.StructField("loop_count", T.IntegerType(), True),   # 0 = infinite
        T.StructField("has_gct", T.BooleanType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)


def parse_gif_structure(payload: bytes) -> dict:
    """REAL animated-GIF container parse, pure stdlib (no codec): walks
    the GIF89a block stream — logical screen descriptor (+ global
    color table skip), Graphic Control Extensions (per-frame delay),
    the NETSCAPE2.0 application extension (loop count), image
    descriptors (+ local color table and LZW sub-block skips) — and
    returns frame count, total animation duration in ms, and loop
    count.  Pixel decode (LZW) stays out of scope, exactly like EXIF:
    the structure level is what a crawl pipeline needs to distinguish
    a static logo from a 40-frame animation and to cost video-ish
    content.  Raises on malformed/truncated input — the operator turns
    that into an error ROW."""
    if len(payload) < 13 or payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF signature")
    w, h = struct.unpack("<HH", payload[6:10])
    packed, _bg, _aspect = payload[10], payload[11], payload[12]
    pos = 13
    has_gct = bool(packed & 0x80)
    if has_gct:
        pos += 3 * (2 << (packed & 0x07))
    n_frames = 0
    total_cs = 0
    loop_count = None
    pending_delay = 0

    def subblocks(p: int) -> int:
        while True:
            if p >= len(payload):
                raise ValueError("truncated sub-block chain")
            n = payload[p]
            p += 1
            if n == 0:
                return p
            if p + n > len(payload):
                raise ValueError("truncated sub-block data")
            p += n

    while True:
        if pos >= len(payload):
            raise ValueError("missing GIF trailer")
        b = payload[pos]
        pos += 1
        if b == 0x3B:                    # trailer
            break
        elif b == 0x21:                  # extension
            if pos >= len(payload):
                raise ValueError("truncated extension")
            label = payload[pos]
            pos += 1
            if label == 0xF9:            # Graphic Control Extension
                if pos + 6 > len(payload) or payload[pos] != 4:
                    raise ValueError("bad GCE block")
                pending_delay = struct.unpack(
                    "<H", payload[pos + 2:pos + 4])[0]
                pos += 5
                if payload[pos] != 0:
                    raise ValueError("bad GCE terminator")
                pos += 1
            elif label == 0xFF:          # application extension
                if pos >= len(payload):
                    raise ValueError("truncated application extension")
                if pos + 12 <= len(payload) and payload[pos] == 11 \
                        and payload[pos + 1:pos + 12] == b"NETSCAPE2.0":
                    q = pos + 12
                    if q + 4 <= len(payload) and payload[q] == 3 \
                            and payload[q + 1] == 1:
                        loop_count = struct.unpack(
                            "<H", payload[q + 2:q + 4])[0]
                pos = subblocks(pos + 1 + payload[pos])
            else:                        # comment / plain text / other
                pos = subblocks(pos)
        elif b == 0x2C:                  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated image descriptor")
            ipacked = payload[pos + 8]
            pos += 9
            if ipacked & 0x80:           # local color table
                pos += 3 * (2 << (ipacked & 0x07))
            if pos >= len(payload):
                raise ValueError("truncated LZW header")
            pos += 1                     # LZW minimum code size
            pos = subblocks(pos)
            n_frames += 1
            total_cs += pending_delay
            pending_delay = 0
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if n_frames == 0:
        raise ValueError("GIF contains no image frames")
    return {
        "width": int(w),
        "height": int(h),
        "n_frames": n_frames,
        "total_ms": total_cs * 10,
        "loop_count": loop_count,
        "has_gct": has_gct,
    }


def gif_structure(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id") -> DataFrame:
    """Animated-GIF structure rows per binary — same Arrow-batched
    shape and error taxonomy as :func:`decode_media`."""
    return media_rows(df, payload_col, id_col, GIF_SCHEMA,
                      parse_gif_structure, "parse_error")


SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("seg_idx", T.IntegerType(), True),
        T.StructField("start_frame", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("end_ms", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)


def audio_segments(df: DataFrame, frame_samples: int = 200,
                   threshold: int = 10000,
                   payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """Silence-aware activity segmentation over REAL decoded WAV PCM:
    fixed frames of ``frame_samples`` per-channel samples, a frame is
    LOUD iff its energy (sum of squares over all channels, exact
    integer) strictly exceeds ``threshold`` (a mean-square bound)
    times its sample count, and each maximal run of loud frames
    becomes one segment row with frame extent, millisecond extent
    (from the file's own sample rate), and exact integer energy.

    This is the audio analogue of the extractor's boilerplate strip:
    a speech/audio training pipeline drops silence before featurizing,
    and the segment boundaries are the unit of downstream chunking.
    Everything is integer arithmetic over closed-form-synthesizable
    samples, so a SQL oracle re-derives frame energies, the loudness
    test, AND the gaps-and-islands run grouping bit-for-bit.  A
    trailing partial frame is judged against its actual sample count.
    Undecodable payloads become error ROWS (one per payload,
    seg_idx NULL), never exceptions; the binary column never
    shuffles."""

    def segments(payload: bytes) -> list[dict]:
        n_ch, rate, s = _decode_wav_raw(payload)
        n_fr = int(s.size) // n_ch          # per-channel frames
        sq = s[:n_fr * n_ch] ** 2
        step = frame_samples * n_ch
        n_frames = (n_fr + frame_samples - 1) // frame_samples
        rows = []
        seg_start = seg_energy = None
        for f in range(n_frames):
            chunk = sq[f * step:(f + 1) * step]
            e = int(chunk.sum())
            loud = e > threshold * int(chunk.size)
            if loud and seg_start is None:
                seg_start, seg_energy = f, e
            elif loud:
                seg_energy += e
            if seg_start is not None and (not loud or f == n_frames - 1):
                end_f = f if not loud else f + 1
                rows.append({
                    "seg_idx": len(rows), "start_frame": seg_start,
                    "n_frames": end_f - seg_start,
                    "start_ms": seg_start * frame_samples * 1000 // rate,
                    "end_ms": min(end_f * frame_samples, n_fr)
                    * 1000 // rate,
                    "energy": seg_energy})
                seg_start = None
        return rows or [{"status": "silent"}]

    return media_rows(df, payload_col, id_col, SEGMENT_SCHEMA, segments,
                      many=True)


def _fake_decode(payload: bytes) -> dict:
    """Deterministic fake decode: all fields derived from the payload
    sha256 — stable across partitionings, no codec needed."""
    d = hashlib.sha256(payload).digest()
    feat = [((d[i] / 255.0) * 2.0 - 1.0) for i in range(16)]
    return {
        "kind": ["image", "audio", "video"][d[0] % 3],
        "width": 64 + d[1] % 192,
        "height": 64 + d[2] % 192,
        "duration_ms": int.from_bytes(d[3:5], "big"),
        "n_frames": 1 + d[5] % 30,
        "feature": [float(round(x, 6)) for x in feat],
    }


def _image_header(payload: bytes) -> dict:
    """:func:`decode_media`'s codec-free default: kind/width/height
    from a PNG/JPEG/GIF/TIFF header; anything else needs a codec."""
    hdr = parse_image_header(payload)
    if hdr is None:
        raise NotImplementedError(
            "not an image header and no media codec in this environment; "
            "pass decode_fn")
    return {"kind": "image", "width": hdr["width"],
            "height": hdr["height"], "n_frames": 1}


def decode_media(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id", decode_fn=None) -> DataFrame:
    """Decode / feature-extract media binaries in Arrow batches.

    Default path: header-based image classification (real, codec-free
    — kind/width/height from PNG/JPEG/GIF/TIFF headers, n_frames=1).
    Non-image payloads: ``processing_error`` rows (pixel/sample decode
    needs a codec) unless a real ``decode_fn`` (e.g. PIL/torchvision
    decode + resize + embed) is supplied."""
    return media_rows(df, payload_col, id_col, MEDIA_SCHEMA,
                      decode_fn or _image_header)


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("byte_order", T.StringType(), True),   # II | MM
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("has_gps", T.BooleanType(), True),
        T.StructField("n_ifd0_entries", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)

_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_DATETIME = 0x0132
_EXIF_TAG_GPS_IFD = 0x8825


def parse_exif(payload: bytes) -> dict:
    """Minimal REAL JPEG APP1/EXIF parser (stdlib struct, no codec):
    walks the JPEG segment chain to the ``Exif\\x00\\x00`` APP1 block,
    reads the TIFF header (both II little- and MM big-endian), and
    scans IFD0 for Orientation (0x0112), DateTime (0x0132, via its
    data-area offset), and the GPS sub-IFD pointer (0x8825).

    ``has_gps`` is the load-bearing field: embedded GPS coordinates are
    location PII, and a pipeline publishing crawled images needs the
    flag the same way pii_scrub needs its phone regexes.  Pixel decode
    stays out of scope (codec); EXIF is pure header structure, so this
    path is real end-to-end.  Raises on malformed input — the operator
    wrapper turns that into a ``parse_error`` ROW.

    Reference parity: the reference validates image uploads and hands
    the bytes to a model for field extraction
    (/root/reference/services/file_processor.py:49-62,
    gemini_service.py:61-146); this is the deterministic header-level
    slice of that image->typed-fields capability, codec-free."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    tiff = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker at {pos}")
        marker = payload[pos + 1]
        if marker in (0xD9, 0xDA):      # EOI / SOS: no EXIF ahead
            break
        seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError("truncated segment")
        if marker == 0xE1 and payload[pos + 4:pos + 10] == b"Exif\x00\x00":
            tiff = payload[pos + 10:pos + 2 + seg_len]
            break
        pos += 2 + seg_len
    if tiff is None:
        raise ValueError("no Exif APP1 segment")
    bo = tiff[:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {bo!r}")
    magic, ifd0_off = struct.unpack(e + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    n = struct.unpack(e + "H", tiff[ifd0_off:ifd0_off + 2])[0]
    out = {"byte_order": bo.decode(), "orientation": None, "datetime": None,
           "has_gps": False, "n_ifd0_entries": n}
    for i in range(n):
        ent = tiff[ifd0_off + 2 + 12 * i:ifd0_off + 2 + 12 * (i + 1)]
        if len(ent) < 12:
            raise ValueError("truncated IFD0 entry")
        tag, typ, count = struct.unpack(e + "HHI", ent[:8])
        if tag == _EXIF_TAG_ORIENTATION and typ == 3:       # SHORT
            out["orientation"] = struct.unpack(e + "H", ent[8:10])[0]
        elif tag == _EXIF_TAG_DATETIME and typ == 2:        # ASCII
            if count <= 4:
                raw = ent[8:8 + count]
            else:
                off = struct.unpack(e + "I", ent[8:12])[0]
                raw = tiff[off:off + count]
            out["datetime"] = raw.split(b"\x00")[0].decode("ascii")
        elif tag == _EXIF_TAG_GPS_IFD:
            out["has_gps"] = True
    return out


def exif_extract(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """EXIF metadata rows per image binary — same Arrow-batched shape
    and error taxonomy as :func:`decode_media` (malformed payloads are
    ``parse_error`` ROWS, never exceptions; the binary column never
    shuffles)."""
    return media_rows(df, payload_col, id_col, EXIF_SCHEMA, parse_exif,
                      "parse_error")


def sample_frames(df: DataFrame, every_n: int = 10,
                  payload_col: str = "payload",
                  id_col: str = "media_id", fake: bool = False) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame index.
    Frame decode itself is stubbed like decode_media: without ``fake``
    each payload is one ``processing_error`` row with frame_idx -1."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_digest", T.StringType(), True),
            T.StructField("status", T.StringType(), True),
        ]
    )

    def frames(payload: bytes) -> list[dict]:
        if not fake:
            raise NotImplementedError("no video codec in this environment")
        # payload:index digest — ':'+decimal keeps the frame key
        # VARCHAR-expressible so the SQL oracle can reproduce it (sha256
        # is VARCHAR-only in DuckDB)
        return [{"frame_idx": idx,
                 "frame_digest": hashlib.sha256(
                     payload + b":" + str(idx).encode()).hexdigest()[:16]}
                for idx in range(0, _fake_decode(payload)["n_frames"],
                                 every_n)]

    return media_rows(df, payload_col, id_col, schema, frames, many=True)
