"""Multimodal column plumbing: opaque binary payloads + typed metadata.

For a 100 TB training-data pipeline, image/audio/video live as opaque
``binary`` columns beside typed metadata, processed by Arrow-batched
pandas UDFs over ``mapInPandas``.

PNG decode is REAL: a pure stdlib-zlib + numpy decoder (below) handles
8-bit gray/RGB/palette/alpha PNGs end to end — chunk walk, IDAT
inflate, per-scanline unfilter (all five filter types), palette
expansion — and emits true width/height/channels. WAV decode is REAL
too: a pure stdlib-struct + numpy RIFF parser covering PCM
8/16/24/32-bit and IEEE float — true sample_rate / n_samples /
channels. The remaining codecs (JPEG/WebP, mp3/ogg/flac, video) need
libraries NOT in this container, so those decode kernels are stubbed —
clearly marked, raising NotImplementedError — while everything
Spark-side (schemas, batch shapes, partitioning, UDF signatures,
deterministic fallback features) is real and tested.

Deterministic fallback "features" for undecodable payloads: byte
length, sha256 prefix, and hash-derived pseudo width/height (channels
= 0 marks them as pseudo) — enough to exercise the full distributed
path (scan -> mapInPandas -> explode/aggregate) without a codec.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id long, payload binary, media_type string"
)

FEATURE_COLUMNS = (
    "n_bytes long, sha256_16 string, width int, height int, "
    "channels int, decode_ok boolean, sample_rate int, n_samples long"
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px


def decode_png(payload: bytes) -> "numpy.ndarray":  # noqa: F821
    """Pure stdlib+numpy PNG decoder: returns a (height, width,
    channels) uint8 array. Supports bit depth 8, color types 0 (gray),
    2 (RGB), 3 (palette -> expanded to RGB), 4 (gray+alpha) and
    6 (RGBA), non-interlaced — the shapes a synthetic training corpus
    emits. Raises ValueError on a non-PNG payload and
    NotImplementedError on the unsupported corners (16-bit, Adam7)."""
    import numpy as np

    data = bytes(payload)
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        (ln,), typ = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + payload + crc
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif typ == b"PLTE":
            plte = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace or ctype not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG depth={depth} ctype={ctype} interlace={interlace} unsupported"
        )
    nch = _PNG_CHANNELS[ctype]
    stride = w * nch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError("PNG scanline size mismatch")
    raw = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), np.int32)
    bpp = nch  # bytes per pixel at depth 8
    for y in range(h):
        f, cur = int(raw[y, 0]), raw[y, 1:].astype(np.int32)
        prev = out[y - 1] if y else np.zeros(stride, np.int32)
        if f == 0:
            rec = cur
        elif f == 2:  # Up — vectorized (no left dependence)
            rec = (cur + prev) & 0xFF
        else:  # Sub / Average / Paeth carry a left dependence
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {f}")
                rec[x] = (cur[x] + pred) & 0xFF
        out[y] = rec
    px = out.astype(np.uint8).reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        palette = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        if px.size and int(px.max()) >= len(palette):
            raise ValueError("PNG palette index beyond PLTE")
        px = palette[px[:, :, 0]]
    return px


def encode_png(arr) -> bytes:
    """Minimal PNG encoder (filter 0, depth 8, no interlace) for gray /
    gray+alpha / RGB / RGBA uint8 arrays — the test-side counterpart of
    decode_png and the generator for synthetic media corpora."""
    import numpy as np

    a = np.asarray(arr, np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_image(payload: bytes) -> "numpy.ndarray":  # noqa: F821
    """Image decode: REAL for PNG (decode_png, pure stdlib+numpy);
    JPEG/WebP/GIF would need PIL/cv2 (absent in this container) and
    raise the clearly-marked NotImplementedError — swap the fallthrough
    for PIL.Image.open when the codec ships."""
    if payload is not None and bytes(payload)[:8] == PNG_MAGIC:
        return decode_png(payload)
    raise NotImplementedError(
        "non-PNG image codecs not available in this environment"
    )


_WAV_FMT_PCM, _WAV_FMT_FLOAT, _WAV_FMT_EXTENSIBLE = 1, 3, 0xFFFE


def decode_wav(payload: bytes) -> tuple:
    """Pure stdlib+numpy WAV (RIFF PCM) decoder: returns
    ``(samples, sample_rate)`` with samples shaped (n_frames,
    n_channels) as float32 in [-1, 1]. Supports PCM 8 (unsigned),
    16/24/32-bit signed, and IEEE float32/float64 — everything an
    uncompressed training corpus carries. Raises ValueError on a
    non-WAV payload and NotImplementedError on compressed formats
    (mp3-in-wav, ADPCM, ...)."""
    import numpy as np

    data = bytes(payload)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        typ, (ln,) = data[pos : pos + 4], struct.unpack(
            "<I", data[pos + 4 : pos + 8]
        )
        body = data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if typ == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif typ == b"data":
            raw = body
    if fmt is None or raw is None:
        raise ValueError("truncated WAV (no fmt /data chunk)")
    code, nch, rate, _byps, _align, bits = fmt
    if code == _WAV_FMT_EXTENSIBLE:
        raise NotImplementedError("WAVE_FORMAT_EXTENSIBLE unsupported")
    if code not in (_WAV_FMT_PCM, _WAV_FMT_FLOAT) or nch < 1:
        raise NotImplementedError(f"compressed WAV format {code} unsupported")
    if code == _WAV_FMT_FLOAT:
        dt = {32: "<f4", 64: "<f8"}.get(bits)
        if dt is None:
            raise NotImplementedError(f"float WAV bits={bits} unsupported")
        x = np.frombuffer(raw[: len(raw) - len(raw) % (nch * bits // 8)], dt)
        x = x.astype(np.float32)
    elif bits == 8:  # 8-bit PCM is UNSIGNED per the RIFF spec
        x = (np.frombuffer(raw, np.uint8).astype(np.float32) - 128.0) / 128.0
    elif bits in (16, 32):
        dt = {16: "<i2", 32: "<i4"}[bits]
        x = np.frombuffer(raw[: len(raw) - len(raw) % (nch * bits // 8)], dt)
        x = x.astype(np.float32) / float(1 << (bits - 1))
    elif bits == 24:  # no 3-byte dtype: widen via a zeroed low byte
        b = np.frombuffer(raw[: len(raw) - len(raw) % (nch * 3)], np.uint8)
        quads = np.zeros((b.size // 3, 4), np.uint8)
        quads[:, 1:] = b.reshape(-1, 3)  # little-endian: pad LOW byte
        x = quads.view("<i4").ravel().astype(np.float32) / float(1 << 31)
    else:
        raise NotImplementedError(f"PCM WAV bits={bits} unsupported")
    return x.reshape(-1, nch), int(rate)


def encode_wav(samples, sample_rate: int) -> bytes:
    """Minimal 16-bit PCM WAV encoder for float samples in [-1, 1] —
    the test-side counterpart of decode_wav and the generator for
    synthetic audio corpora. Accepts (n,) or (n, channels) arrays."""
    import numpy as np

    a = np.asarray(samples, np.float32)
    if a.ndim == 1:
        a = a[:, None]
    nch = a.shape[1]
    pcm = np.clip(np.round(a * 32767.0), -32768, 32767).astype("<i2")
    raw = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", _WAV_FMT_PCM, nch, sample_rate, sample_rate * nch * 2,
        nch * 2, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_audio(payload: bytes) -> tuple:
    """Audio decode: REAL for WAV/RIFF-PCM (decode_wav, pure
    stdlib+numpy); compressed codecs (mp3/ogg/flac) would need a
    library absent in this container and raise the clearly-marked
    NotImplementedError — swap the fallthrough for soundfile/librosa
    when the codec ships."""
    if payload is not None and bytes(payload)[:4] == b"RIFF":
        return decode_wav(payload)
    raise NotImplementedError(
        "compressed audio codecs not available in this environment"
    )


# What decode_image / decode_audio raise on malformed bytes: ValueError
# and NotImplementedError are declared (a palette index beyond a short
# PLTE is checked and raised as ValueError); a truncated IDAT raises
# zlib.error, a short chunk struct.error, a cut compressed stream
# EOFError — none of which subclasses ValueError.
# tests/test_functions_multimodal.py fuzzes the decoders against this.
DECODE_ERRORS = (ValueError, NotImplementedError, struct.error, zlib.error, EOFError)


def _fallback_features(payload: bytes | None) -> tuple:
    if payload is None:
        return 0, "", 0, 0, 0, False, 0, 0
    b = bytes(payload)
    sha = hashlib.sha256(b).hexdigest()
    # deterministic pseudo-dimensions from the content hash — a stand-in
    # with the same column types a real decoder would produce; channels=0
    # marks the row as pseudo (a real decode always has >= 1)
    width = 64 + int(sha[:4], 16) % 1984
    height = 64 + int(sha[4:8], 16) % 1984
    return len(b), sha[:16], width, height, 0, True, 0, 0


def extract_media_features(batch_iter: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
    """mapInPandas kernel: payload binary -> typed feature columns.

    Tries the real decoder per media_type (PNG and WAV decode for
    real; other formats raise); on a decode failure (DECODE_ERRORS)
    falls back to the deterministic feature extractor. Payload is
    dropped on output (same never-move-raw-bytes rule as html
    extraction).
    """
    for pdf in batch_iter:
        feats = []
        for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
            try:
                if mtype == "image" and payload is not None:
                    px = decode_image(payload)
                    b = bytes(payload)
                    feats.append(
                        (
                            len(b),
                            hashlib.sha256(b).hexdigest()[:16],
                            int(px.shape[1]),
                            int(px.shape[0]),
                            int(px.shape[2]),
                            True,
                            0,
                            0,
                        )
                    )
                    continue
                if mtype == "audio" and payload is not None:
                    samples, rate = decode_audio(payload)
                    b = bytes(payload)
                    feats.append(
                        (
                            len(b),
                            hashlib.sha256(b).hexdigest()[:16],
                            0,
                            0,
                            int(samples.shape[1]),
                            True,
                            int(rate),
                            int(samples.shape[0]),
                        )
                    )
                    continue
                feats.append(_fallback_features(payload))
            except DECODE_ERRORS:
                # malformed crawled bytes degrade to the fallback
                # features, never kill the wave; any other exception is
                # a bug in the decoder and propagates
                feats.append(_fallback_features(payload))
        out = pdf.drop(columns=["payload"]).reset_index(drop=True)
        out[
            [
                "n_bytes",
                "sha256_16",
                "width",
                "height",
                "channels",
                "decode_ok",
                "sample_rate",
                "n_samples",
            ]
        ] = feats
        yield out


def media_features(media: DataFrame) -> DataFrame:
    """media(media_id, payload, media_type) -> typed features, payload
    dropped before anything shuffles."""
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in media.schema.fields
        if f.name != "payload"
    )
    return media.mapInPandas(
        extract_media_features, schema=f"{in_ddl}, {FEATURE_COLUMNS}"
    )


def with_resize_plan(feats: DataFrame, max_side: int = 256) -> DataFrame:
    """Append resize-planning columns (aspect-preserving, longest side
    clamped to ``max_side``, never upscaled) to an existing features
    frame — all JVM-side, no second decode pass."""
    w, h = F.col("width"), F.col("height")
    longest = F.greatest(w, h)
    scale = F.when(longest > max_side, F.lit(max_side) / longest).otherwise(
        F.lit(1.0)
    )
    return (
        feats.withColumn("target_width", F.floor(w * scale).cast("int"))
        .withColumn("target_height", F.floor(h * scale).cast("int"))
        .withColumn("needs_resize", scale < 1.0)
    )


def resize_specs(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize plumbing: compute each image's target dimensions
    (aspect-preserving, longest side clamped to ``max_side``, never
    upscaled) from the decoded/fallback width/height — all JVM-side.
    The actual pixel resample belongs in the stubbed decode kernel;
    this is the planning half a real pipeline runs first so it can
    skip no-op resizes and size its output buffers."""
    return with_resize_plan(media_features(media), max_side).select(
        "media_id",
        "media_type",
        "width",
        "height",
        "target_width",
        "target_height",
        "needs_resize",
    )


# url extension -> media_type for the wave-level media path; anything
# else is an opaque page snapshot (still feature-extracted — the binary
# plumbing is type-agnostic by design)
_EXT_TYPES = (
    (r"\.(jpe?g|png|gif|webp)$", "image"),
    (r"\.(mp3|wav|ogg|flac)$", "audio"),
    (r"\.(mp4|webm|mkv|avi)$", "video"),
)


def media_type_from_url(url_col) -> "F.Column":
    expr = F.lit("page")
    for pat, mtype in reversed(_EXT_TYPES):
        expr = F.when(F.lower(url_col).rlike(pat), F.lit(mtype)).otherwise(expr)
    return expr


def page_media_features(
    fetched: DataFrame, max_side: int = 256
) -> DataFrame:
    """Wave-level multimodal path: treat each fetched page's raw bytes
    as an opaque media payload -> typed features + resize plan, one
    Arrow kernel pass, payload dropped before anything shuffles (the
    same never-move-raw-bytes rule as html extraction). Input needs
    (url, html); output is MEDIA_FEATURES minus wave_id."""
    media = fetched.select(
        "url",
        F.xxhash64("url").alias("media_id"),
        media_type_from_url(F.col("url")).alias("media_type"),
        F.col("html").alias("payload"),
    )
    return with_resize_plan(media_features(media), max_side)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emit one row per sampled frame
    index (real frame decode is the stubbed kernel). Shows the
    explode-shaped output a frame sampler produces, with deterministic
    frame counts derived from payload size."""
    feats = media_features(media)
    n_frames = (F.col("n_bytes") / 1024).cast("int") + 1
    idx = F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    return feats.select(
        "media_id", "media_type", F.explode(idx).alias("frame_idx")
    )
