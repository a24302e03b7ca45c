"""Multimodal (image/audio/video) column plumbing.

Media assets are opaque ``binary`` columns with typed metadata, carried
through the span model as ``kind='media'`` spans whose ``media_ref`` points
into an assets table:

    assets(media_ref: string, kind: string, payload: binary,
           meta: struct<width:int, height:int, duration_ms:int, mime:string>)

The Spark-side plumbing — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested. Decoding is format-sniffed per payload:

* **BMP** (uncompressed 24/32-bit) and **WAV** (PCM 8/16-bit) decode FOR
  REAL with pure-stdlib ``struct``/numpy parsing — no image/audio library
  needed — into normalized intensity/amplitude-histogram features.
* Every other format yields a typed ``decode_error`` row (this container
  has no PIL/torchaudio; the pipeline must tolerate undecodable assets at
  100 TB anyway), or a deterministic content-hash pseudo-feature with
  ``fake=True`` for plumbing tests.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSETS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", IntegerType(), True),
                    StructField("mime", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_FEATURES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("decode_error", StringType(), True),
    ]
)


def media_refs(docs: DataFrame) -> DataFrame:
    """Media spans of the corpus: (doc_id, media_ref, offset)."""
    m = docs.select(
        "doc_id",
        F.explode(F.filter("spans", lambda s: s["kind"] == "media")).alias("s"),
    )
    return m.select("doc_id", F.col("s.media_ref").alias("media_ref"), F.col("s.offset").alias("offset"))


def extract_features(
    assets: DataFrame, dim: int = 16, fake: bool = False, batch_rows: int = 64
) -> DataFrame:
    """Decode + feature-extract media payloads via mapInPandas.

    Format-sniffed per payload: BMP (uncompressed 24/32-bit) and WAV (PCM
    8/16-bit) decode for real — pure ``struct``/numpy header+sample parsing,
    no media library — into an L2-normalized ``dim``-bin histogram feature
    (pixel intensity for images, sample amplitude for audio). Unsupported or
    corrupt payloads get a typed ``decode_error`` and a null feature (never
    an exception: at corpus scale some assets are ALWAYS broken). With
    ``fake=True`` every row gets the deterministic content-hash
    pseudo-feature instead (plumbing tests).

    Batch shape matters at scale: payloads are large, so OUTPUT frames are
    flushed every ``batch_rows`` rows (bounds peak per-batch payload memory
    executor-side); the INPUT Arrow batch size is session-governed — set
    spark.sql.execution.arrow.maxRecordsPerBatch to match. The scan
    partitions by file, never collecting payloads to the driver.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # all helpers are (re)defined INSIDE the closure: cloudpickle ships a
        # closure-referenced module-level function by module path, which
        # breaks on executors without xlink_spark on their import path; inner
        # defs are serialized by value
        import struct

        def fake_feature(payload, ref, dim):
            h = hashlib.sha256((payload or ref.encode())[:1024]).digest()
            rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
            v = rng.normal(size=dim).astype(np.float32)
            return (v / np.linalg.norm(v)).tolist()

        def hist_feature(values, lo, hi):
            # L2-normalized histogram — scale/shift-stable content signature
            h, _ = np.histogram(values, bins=dim, range=(lo, hi))
            h = h.astype(np.float64)
            n = np.linalg.norm(h)
            return (h / n).astype(np.float32).tolist() if n > 0 else None

        def decode_bmp(b):
            # BITMAPFILEHEADER (14) + BITMAPINFOHEADER: uncompressed 24/32bpp
            if len(b) < 54:
                raise ValueError("bmp: truncated header")
            data_off = struct.unpack_from("<I", b, 10)[0]
            width, height = struct.unpack_from("<ii", b, 18)
            planes, bpp = struct.unpack_from("<HH", b, 26)
            compression = struct.unpack_from("<I", b, 30)[0]
            if compression != 0 or bpp not in (24, 32):
                raise ValueError(f"bmp: unsupported bpp={bpp} compression={compression}")
            h = abs(height)  # negative height = top-down; histogram is order-free
            if width <= 0 or h == 0:
                raise ValueError("bmp: bad dimensions")
            bypp = bpp // 8
            stride = (width * bypp + 3) & ~3  # rows pad to 4 bytes
            need = data_off + stride * h
            if len(b) < need:
                raise ValueError("bmp: truncated pixel data")
            rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=data_off)
            px = rows.reshape(h, stride)[:, : width * bypp].reshape(h, width, bypp)
            gray = px[:, :, :3].mean(axis=2)  # BGR(A): alpha excluded
            return hist_feature(gray.ravel(), 0.0, 256.0)

        def decode_wav(b):
            # RIFF/WAVE chunk walk: fmt (PCM only) then data
            if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                raise ValueError("wav: not RIFF/WAVE")
            pos, fmt, data = 12, None, None
            while pos + 8 <= len(b):
                cid = b[pos : pos + 4]
                size = struct.unpack_from("<I", b, pos + 4)[0]
                body = b[pos + 8 : pos + 8 + size]
                if cid == b"fmt ":
                    fmt = struct.unpack_from("<HHIIHH", body, 0)
                elif cid == b"data":
                    data = body
                pos += 8 + size + (size & 1)  # chunks pad to even
            if fmt is None or data is None:
                raise ValueError("wav: missing fmt/data chunk")
            audio_fmt, _ch, _rate, _bps, _align, bits = fmt
            if audio_fmt != 1 or bits not in (8, 16):
                raise ValueError(f"wav: unsupported format={audio_fmt} bits={bits}")
            if bits == 16:
                samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2").astype(
                    np.float64
                ) / 32768.0
            else:
                samples = (
                    np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
                ) / 128.0
            if samples.size == 0:
                raise ValueError("wav: empty data chunk")
            return hist_feature(samples, -1.0, 1.0)

        def decode(payload, ref):
            if fake:
                return fake_feature(payload, ref, dim), None
            if payload is None:
                return None, "empty payload"
            b = bytes(payload)
            try:
                if b[:2] == b"BM":
                    return decode_bmp(b), None
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    return decode_wav(b), None
                return None, "unsupported media format (no PIL/torchaudio in environment)"
            except Exception as e:  # corrupt headers must yield rows, not task failures
                return None, f"{type(e).__name__}: {e}"

        cols = ["media_ref", "feature", "decode_error"]
        out = []
        for pdf in batches:
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                feat, err = decode(payload, ref)
                out.append((ref, feat, err))
                if len(out) >= batch_rows:
                    yield pd.DataFrame(out, columns=cols)
                    out = []
        if out:
            yield pd.DataFrame(out, columns=cols)

    return assets.select("media_ref", "payload").mapInPandas(run, _FEATURES)


_RESIZED = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("decode_error", StringType(), True),
    ]
)


def resize_images(
    assets: DataFrame, width: int, height: int, batch_rows: int = 64
) -> DataFrame:
    """Resize image payloads to ``width``×``height`` (nearest-neighbor).

    BMP (uncompressed 24/32-bit) payloads are decoded, resized with
    deterministic nearest-neighbor index mapping (floor(i·src/dst) — no
    interpolation, no FP kernels, bit-reproducible), and re-encoded as
    24-bit BMP. Other formats yield a typed ``decode_error`` row (this
    container ships no PIL; a corpus at scale always carries undecodable
    assets, so errors are DATA, never task failures).

    Output: (media_ref, payload, width, height, decode_error) — the resized
    table is schema-compatible with ``assets`` via a rename, so resize
    chains with extract_features. Output frames flush every ``batch_rows``
    rows (same memory-cap convention as extract_features); input batch size
    is spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def parse_bmp(b):
            # header parse shared with the feature decoder; returns HxWx3
            if len(b) < 54 or b[:2] != b"BM":
                raise ValueError("not a BMP")
            off = struct.unpack_from("<I", b, 10)[0]
            hdr = struct.unpack_from("<IiiHHI", b, 14)
            _sz, w, h, _planes, bpp, comp = hdr
            if comp != 0 or bpp not in (24, 32):
                raise ValueError(f"unsupported BMP (bpp={bpp}, comp={comp})")
            flip = h > 0
            h = abs(h)
            nch = bpp // 8
            if w <= 0 or h == 0 or w > 32768 or h > 32768:
                raise ValueError(f"bad BMP dimensions {w}x{h}")
            stride = (w * nch + 3) & ~3
            # validate the declared dimensions against the actual payload
            # BEFORE allocating: a corrupt/hostile header declaring huge w/h
            # must land on the typed decode_error path, not attempt a
            # multi-GB np.zeros that can OOM the executor first
            if off + h * stride > len(b):
                raise ValueError("truncated BMP pixel data")
            px = np.zeros((h, w, 3), dtype=np.uint8)
            for r in range(h):
                row = np.frombuffer(b, dtype=np.uint8, count=w * nch, offset=off + r * stride)
                row = row.reshape(w, nch)[:, :3][:, ::-1]  # BGR(A) -> RGB
                px[h - 1 - r if flip else r] = row
            return px

        def encode_bmp(px):
            h, w = px.shape[0], px.shape[1]
            stride = (w * 3 + 3) & ~3
            body = bytearray()
            for row in px[::-1]:
                r = row[:, ::-1].tobytes()
                body += r + b"\x00" * (stride - len(r))
            off = 14 + 40
            header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
            )
            return bytes(header + info + body)

        def one(payload):
            if payload is None:
                return None, None, None, "empty payload"
            b = bytes(payload)
            try:
                px = parse_bmp(b)
                sh, sw = px.shape[0], px.shape[1]
                # nearest-neighbor: integer index map, no FP accumulation
                ri = (np.arange(height) * sh) // height
                ci = (np.arange(width) * sw) // width
                out = px[ri][:, ci]
                return encode_bmp(out), width, height, None
            except Exception as e:
                return None, None, None, f"{type(e).__name__}: {e}"

        cols = ["media_ref", "payload", "width", "height", "decode_error"]
        rows = []
        for pdf in batches:
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                p, w, h, err = one(payload)
                rows.append((ref, p, w, h, err))
                if len(rows) >= batch_rows:
                    yield pd.DataFrame(rows, columns=cols)
                    rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return assets.select("media_ref", "payload").mapInPandas(run, _RESIZED)


_FRAMES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("t_ms", IntegerType(), True),
        StructField("frame", BinaryType(), True),
        StructField("decode_error", StringType(), True),
    ]
)

# Toy deterministic video container for plumbing tests: b"XLV1" + u32 frame
# count, then per frame u32 t_ms + u32 byte length + payload (a BMP). Real
# containers (mp4/mkv) need a demuxer this environment doesn't ship — they
# yield a typed decode_error, the clearly-marked stub the brief prescribes.
VIDEO_MAGIC = b"XLV1"


def make_video(frames: list[tuple[int, bytes]]) -> bytes:
    """Encode (t_ms, frame_payload) pairs as the XLV1 test container."""
    import struct

    out = bytearray(VIDEO_MAGIC + struct.pack("<I", len(frames)))
    for t_ms, payload in frames:
        out += struct.pack("<II", int(t_ms), len(payload)) + payload
    return bytes(out)


def sample_frames(
    assets: DataFrame, every_ms: int = 1000, batch_rows: int = 16
) -> DataFrame:
    """Frame-sample video payloads: one frame per ``every_ms`` window.

    The selection rule is deterministic: the FIRST frame at or after each
    multiple of ``every_ms`` is emitted (frame 0 always qualifies). One
    input row explodes to N output rows — the fan-out happens executor-side
    (nothing returns to the driver) and output frames flush every
    ``batch_rows`` rows, INCLUDING mid-video, so a single long video never
    materializes all its sampled frames in one batch. XLV1 test containers
    parse for real; other formats get one typed ``decode_error`` row each.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def frames_of(b):
            if len(b) < 8 or b[:4] != VIDEO_MAGIC:
                raise ValueError("not an XLV1 container (no demuxer for real video formats in environment)")
            n = struct.unpack_from("<I", b, 4)[0]
            off = 8
            for _i in range(n):
                t_ms, ln = struct.unpack_from("<II", b, off)
                off += 8
                if off + ln > len(b):
                    # Python slicing never raises on overrun — without this
                    # check a truncated container silently emits short/garbage
                    # frame bytes with decode_error=None; errors are DATA
                    raise ValueError("truncated XLV1 container (frame length overruns buffer)")
                yield t_ms, b[off : off + ln]
                off += ln

        cols = ["media_ref", "frame_idx", "t_ms", "frame", "decode_error"]
        rows = []
        for pdf in batches:
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                if payload is None:
                    rows.append((ref, None, None, None, "empty payload"))
                    continue
                try:
                    next_t = 0
                    idx = 0
                    for t_ms, frame in frames_of(bytes(payload)):
                        if t_ms >= next_t:
                            rows.append((ref, idx, int(t_ms), frame, None))
                            next_t = (t_ms // every_ms + 1) * every_ms
                        idx += 1
                        if len(rows) >= batch_rows:  # one video can explode
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                except Exception as e:
                    rows.append((ref, None, None, None, f"{type(e).__name__}: {e}"))
                if len(rows) >= batch_rows:
                    yield pd.DataFrame(rows, columns=cols)
                    rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return assets.select("media_ref", "payload").mapInPandas(run, _FRAMES)


def make_bmp(pixels) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a real uncompressed 24-bit BMP.

    Driver-side test/fixture helper (the decoder's inverse): rows bottom-up,
    BGR order, 4-byte row padding — a file any image viewer opens.
    """
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in px[::-1]:  # bottom-up
        r = row[:, ::-1].tobytes()  # RGB -> BGR
        body += r + b"\x00" * (stride - len(r))
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header + info + body)


def make_wav(samples, rate: int = 16000) -> bytes:
    """Encode float samples in [-1, 1] as a real 16-bit PCM mono WAV."""
    import struct

    s = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    data = (s * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    riff = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def synthesize_assets(docs: DataFrame, with_payload: bool = True) -> DataFrame:
    """Deterministic fake asset table for the corpus's media refs.

    payload = utf-8 of the ref repeated (content-addressable, deterministic);
    meta derived from the ref hash. Exercises binary-column I/O for real.
    """
    refs = media_refs(docs).select("media_ref").distinct()
    payload = (
        F.encode(F.concat_ws(":", F.lit("payload"), "media_ref", "media_ref"), "utf-8")
        if with_payload
        else F.lit(None).cast("binary")
    )
    h = F.abs(F.xxhash64("media_ref"))
    return refs.select(
        "media_ref",
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.struct(
            (h % 1920 + 1).cast("int").alias("width"),
            (h % 1080 + 1).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit("image/jpeg").alias("mime"),
        ).alias("meta"),
    )


IMAGE_INFO_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("decode_error", StringType(), True),
    ]
)


def image_info(
    media: DataFrame,
    payload_col: str = "payload",
    ref_col: str = "media_ref",
    batch_rows: int = 1024,
) -> DataFrame:
    """Header-only image metadata: format + dimensions WITHOUT decoding.

    At 100 TB most per-image questions (resolution gates, aspect-ratio
    filters, thumbnail planning) need only the header — decoding every
    JPEG to learn its size would be the most expensive no-op in the
    pipeline. This sniffs the container from magic bytes and reads the
    dimension fields directly, all stdlib:

    * JPEG — walk the marker stream to the first SOF0–SOF15 frame header
      (skipping the non-frame markers DHT/DAC/DQT/DRI etc.); height/width
      are big-endian u16 at offsets 3/5 of the frame segment.
    * PNG — IHDR is mandated to be the first chunk: width/height are
      big-endian u32 at bytes 16/20.
    * GIF — logical screen width/height, little-endian u16 at bytes 6/8.
    * BMP — BITMAPINFOHEADER width/height, little-endian i32 at 18/22.

    Truncated or foreign payloads land on the typed ``decode_error`` path
    (errors are DATA, never task failures), same contract as the decoders
    above. Arrow-batched mapInPandas; output is one narrow row per ref.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def sniff(b: bytes):
            if len(b) < 10:
                raise ValueError("payload shorter than any image header")
            if b[:3] == b"\xff\xd8\xff":
                i = 2
                while i + 9 <= len(b):
                    if b[i] != 0xFF:
                        raise ValueError("jpeg marker stream desynced")
                    # spec B.1.1.2: markers may be preceded by any number
                    # of 0xFF fill bytes — consume them or a valid file
                    # misparses the fill byte as a marker
                    while i + 9 <= len(b) and b[i + 1] == 0xFF:
                        i += 1
                    marker = b[i + 1]
                    if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                        i += 2
                        continue
                    seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
                    if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                        if i + 4 + 5 > len(b):
                            raise ValueError("jpeg SOF truncated")
                        h, w = struct.unpack(">HH", b[i + 5:i + 9])
                        return "jpeg", w, h
                    i += 2 + seglen
                raise ValueError("jpeg has no SOF frame header")
            if b[:8] == b"\x89PNG\r\n\x1a\n":
                if len(b) < 24 or b[12:16] != b"IHDR":
                    raise ValueError("png IHDR missing or truncated")
                w, h = struct.unpack(">II", b[16:24])
                return "png", w, h
            if b[:6] in (b"GIF87a", b"GIF89a"):
                w, h = struct.unpack("<HH", b[6:10])
                return "gif", w, h
            if b[:2] == b"BM":
                if len(b) < 26:
                    raise ValueError("bmp header truncated")
                # dispatch on the DIB header size: BITMAPCOREHEADER (12)
                # stores u16 dims at 18/20 — reading i32 there would return
                # plausible-but-garbage dimensions, not an error
                dib = struct.unpack("<I", b[14:18])[0]
                if dib == 12:
                    w, h = struct.unpack("<HH", b[18:22])
                    return "bmp", w, h
                if dib >= 40:
                    w, h = struct.unpack("<ii", b[18:26])
                    return "bmp", w, abs(h)
                raise ValueError(f"unsupported BMP DIB header size {dib}")
            raise ValueError("unknown image container")

        def one(ref, payload):
            if payload is None:
                return (ref, None, None, None, None, "null payload")
            try:
                fmt, w, h = sniff(bytes(payload))
                if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
                    raise ValueError("implausible dimensions")
                return (ref, fmt, int(w), int(h), len(payload), None)
            except Exception as e:  # errors are DATA
                return (ref, None, None, None, len(payload), str(e))

        for pdf in batches:
            out = [
                one(r, p) for r, p in zip(pdf[ref_col], pdf[payload_col])
            ]
            cols = ["media_ref", "format", "width", "height", "n_bytes", "decode_error"]
            for k in range(0, len(out), batch_rows):
                yield pd.DataFrame(out[k:k + batch_rows], columns=cols)

    return media.select(ref_col, payload_col).mapInPandas(run, IMAGE_INFO_SCHEMA)
