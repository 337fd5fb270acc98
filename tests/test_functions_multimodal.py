"""HMAC signing functions and multimodal plumbing."""

from __future__ import annotations

import hashlib
import hmac as hmac_mod

import pytest

from newscrawl import functions as fn
from newscrawl import multimodal as mm


def test_hmac_matches_stdlib():
    key, payload = b"secret", b'{"a":1}'
    assert fn.hmac_sha256_hex(key, payload) == hmac_mod.new(
        key, payload, hashlib.sha256
    ).hexdigest()


def test_with_hmac_signature_spark(spark):
    df = spark.createDataFrame([(1, "payload")], "id long, body string")
    row = fn.with_hmac_signature(df, b"k", "body").collect()[0]
    assert row.signature == hmac_mod.new(b"k", b"payload", hashlib.sha256).hexdigest()


@pytest.fixture()
def media_df(spark):
    rows = [
        (1, b"\x89PNGfakebytes" * 100, "image"),
        (2, b"RIFFfakeaudio" * 50, "audio"),
        (3, None, "image"),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_media_features_deterministic_fallback(spark, media_df):
    feats = {r.media_id: r for r in mm.media_features(media_df).collect()}
    assert feats[1].n_bytes == len(b"\x89PNGfakebytes" * 100) and feats[1].decode_ok
    assert feats[1].sha256_16 == hashlib.sha256(b"\x89PNGfakebytes" * 100).hexdigest()[:16]
    assert 64 <= feats[1].width < 2048 and 64 <= feats[1].height < 2048
    assert feats[3].n_bytes == 0 and not feats[3].decode_ok
    # payload never in the output schema
    assert "payload" not in mm.media_features(media_df).columns


def test_decode_stubs_raise():
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        mm.decode_image(b"x")
    with _pt.raises(NotImplementedError):
        mm.decode_audio(b"x")


def test_frame_sample_plan(spark, media_df):
    out = mm.frame_sample_plan(media_df, every_n=1).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    # 1300 bytes -> 2 frames at every_n=1
    assert by_id[1] == [0, 1]
    assert by_id[3] == [0]


def test_resize_specs(spark, media_df):
    out = {r.media_id: r for r in mm.resize_specs(media_df, max_side=128).collect()}
    for r in out.values():
        if r.media_id == 3:
            continue  # null payload -> 0x0 pseudo image, no resize
        longest = max(r.width, r.height)
        t_longest = max(r.target_width, r.target_height)
        if longest > 128:
            assert r.needs_resize and t_longest <= 128
            # aspect preserved within integer flooring
            assert abs(
                r.width / r.height - r.target_width / max(r.target_height, 1)
            ) < 0.1
        else:
            assert not r.needs_resize
            assert (r.target_width, r.target_height) == (r.width, r.height)
    assert out[3].target_width == 0 and not out[3].needs_resize


def test_png_roundtrip_all_color_types():
    """decode_png is a REAL codec: encode -> decode roundtrips pixels
    exactly for gray, gray+alpha, RGB and RGBA 8-bit images."""
    import numpy as np

    rng = np.random.RandomState(7)
    for c in (1, 2, 3, 4):
        arr = rng.randint(0, 256, size=(13, 9, c), dtype=np.uint8)
        px = mm.decode_png(mm.encode_png(arr))
        assert px.shape == (13, 9, c)
        assert (px == arr).all()


def test_png_all_filter_types_and_palette():
    """Hand-built scanlines exercise every PNG filter (None, Sub, Up,
    Average, Paeth) against an independently computed expectation, and a
    palette image expands through PLTE to RGB."""
    import struct
    import zlib

    import numpy as np

    # 5 rows x 4 px RGB, one filter type per row, filtered by hand from
    # known target pixels (encode the FILTERED bytes, expect the target)
    target = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3) * 3 + 5
    raws = []
    for y, f in enumerate((0, 1, 2, 3, 4)):
        row = target[y].reshape(-1).astype(int)
        prev = target[y - 1].reshape(-1).astype(int) if y else [0] * 12
        filt = []
        for x in range(12):
            a = row[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt.append((row[x] - pred) % 256)
        raws.append(bytes([f]) + bytes(filt))

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    png = (
        mm.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + chunk(b"IEND", b"")
    )
    assert (mm.decode_png(png) == target).all()

    # palette: 2x2 indices into a 3-entry PLTE
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx_rows = b"\x00" + bytes([0, 2]) + b"\x00" + bytes([1, 1])
    png_p = (
        mm.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(idx_rows))
        + chunk(b"IEND", b"")
    )
    px = mm.decode_png(png_p)
    assert px.shape == (2, 2, 3)
    assert px[0, 0].tolist() == [255, 0, 0]
    assert px[0, 1].tolist() == [0, 0, 255]
    assert px[1, 0].tolist() == [0, 255, 0]


def test_media_features_real_png_dimensions(spark):
    """A real PNG payload flows through the distributed feature kernel
    and reports its TRUE width/height/channels (channels > 0 marks a
    real decode; hash-derived pseudo-dims are channels = 0)."""
    import numpy as np

    arr = np.zeros((24, 31, 3), dtype=np.uint8)
    arr[:, :, 0] = 200
    rows = [
        (1, mm.encode_png(arr), "image"),
        (2, b"\xff\xd8\xffJFIFnotreallyajpeg" * 40, "image"),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in mm.media_features(df).collect()}
    assert (feats[1].width, feats[1].height, feats[1].channels) == (31, 24, 3)
    assert feats[1].decode_ok
    assert feats[2].channels == 0  # fallback pseudo-dims


def test_page_media_features_decodes_png_url(spark):
    """End-to-end wave media path: a fetched .png url's payload decodes
    for real inside page_media_features and its resize plan derives from
    the TRUE dimensions."""
    import numpy as np

    arr = np.zeros((100, 400, 4), dtype=np.uint8)
    rows = [
        ("https://bbc.example.com/img/banner.png", bytearray(mm.encode_png(arr))),
        ("https://bbc.example.com/news/story-1", bytearray(b"<html><p>hi</p></html>")),
    ]
    fetched = spark.createDataFrame(rows, "url string, html binary")
    out = {r.url: r for r in mm.page_media_features(fetched, max_side=128).collect()}
    png_row = out["https://bbc.example.com/img/banner.png"]
    assert png_row.media_type == "image"
    assert (png_row.width, png_row.height, png_row.channels) == (400, 100, 4)
    assert png_row.needs_resize
    assert (png_row.target_width, png_row.target_height) == (128, 32)
    page_row = out["https://bbc.example.com/news/story-1"]
    assert page_row.media_type == "page" and page_row.channels == 0


def test_wav_roundtrip_mono_and_stereo():
    """decode_wav is a REAL codec: encode -> decode roundtrips samples
    (within 16-bit quantization) and recovers rate/channels/length."""
    import numpy as np

    t = np.linspace(0, 1, 8000, endpoint=False)
    mono = 0.5 * np.sin(2 * np.pi * 440 * t)
    stereo = np.stack([mono, 0.25 * np.sin(2 * np.pi * 880 * t)], axis=1)
    for sig, nch in ((mono, 1), (stereo, 2)):
        samples, rate = mm.decode_wav(mm.encode_wav(sig, 8000))
        assert rate == 8000
        assert samples.shape == (8000, nch)
        ref = sig.reshape(8000, nch)
        assert float(abs(samples - ref).max()) < 1.0 / 32000


def test_wav_bit_depths_and_float():
    """Hand-built fmt/data chunks for every supported sample format."""
    import struct as st

    import numpy as np

    def wav(code, bits, raw, nch=1, rate=4000):
        fmt = st.pack("<HHIIHH", code, nch, rate, rate * nch * bits // 8,
                      nch * bits // 8, bits)
        body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                + b"data" + st.pack("<I", len(raw)) + raw)
        return b"RIFF" + st.pack("<I", len(body)) + body

    # 8-bit unsigned: 128 is zero, 255 ~ +1, 0 = -1
    s, r = mm.decode_wav(wav(1, 8, bytes([128, 255, 0])))
    assert r == 4000 and s.shape == (3, 1)
    assert abs(s[0, 0]) < 0.01 and s[1, 0] > 0.98 and s[2, 0] == -1.0
    # 24-bit signed little-endian: 0x400000 = +0.5
    s, _ = mm.decode_wav(wav(1, 24, b"\x00\x00\x40" + b"\x00\x00\xc0"))
    assert abs(s[0, 0] - 0.5) < 1e-6 and abs(s[1, 0] + 0.5) < 1e-6
    # 32-bit signed
    s, _ = mm.decode_wav(wav(1, 32, st.pack("<i", 1 << 30)))
    assert abs(s[0, 0] - 0.5) < 1e-9
    # IEEE float32 passthrough
    s, _ = mm.decode_wav(wav(3, 32, st.pack("<f", -0.625)))
    assert s[0, 0] == np.float32(-0.625)
    # compressed (mp3-in-wav, code 0x55) raises the declared stub error
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        mm.decode_wav(wav(0x55, 16, b"\x00\x00"))
    with _pt.raises(ValueError):
        mm.decode_wav(b"RIFF\x00\x00\x00\x00JUNK")


def test_media_features_real_wav_and_resize_noop(spark):
    """A .wav payload decodes for real in the distributed kernel: true
    sample_rate/n_samples/channels, width=height=0, and the resize plan
    is a no-op for audio rows."""
    import numpy as np

    sig = np.zeros((2000, 2), dtype=np.float32)
    rows = [
        (1, bytearray(mm.encode_wav(sig, 16000)), "audio"),
        (2, b"RIFFfakeaudio" * 50, "audio"),  # RIFF but not WAVE -> fallback
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r for r in mm.with_resize_plan(
        mm.media_features(df), max_side=128).collect()}
    wav_row = out[1]
    assert (wav_row.sample_rate, wav_row.n_samples, wav_row.channels) == (
        16000, 2000, 2)
    assert wav_row.decode_ok and (wav_row.width, wav_row.height) == (0, 0)
    assert not wav_row.needs_resize
    fb = out[2]
    assert fb.channels == 0 and (fb.sample_rate, fb.n_samples) == (0, 0)


_FEATURES = [
    "n_bytes", "sha256_16", "width", "height", "channels", "decode_ok",
    "sample_rate", "n_samples",
]


def _palette_png(idx, palette: bytes) -> bytes:
    """Color-type-3 PNG: encode_png's gray rows with IHDR's color type
    set to 3 and a PLTE chunk (raw RGB triples) before the IDAT."""
    import struct
    import zlib

    def chunk(typ: bytes, body: bytes) -> bytes:
        crc = struct.pack(">I", zlib.crc32(typ + body))
        return struct.pack(">I", len(body)) + typ + body + crc

    gray = mm.encode_png(idx)
    ihdr_end = 8 + 8 + 13 + 4  # magic, IHDR length+type, body, crc
    w, h = struct.unpack(">II", gray[16:24])
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
    return gray[:8] + ihdr + chunk(b"PLTE", palette) + gray[ihdr_end:]


def test_corrupt_media_degrades_to_fallback():
    """Seeded fuzz of the feature kernel: every truncation and random
    byte flip of a real PNG (RGB and palette) and a real WAV payload
    yields a row — the real decode when the decoder still accepts the
    bytes, else exactly the fallback features — and the decoders fail
    only with the classes the kernel catches (DECODE_ERRORS)."""
    import random

    import numpy as np
    import pandas as pd

    rng = random.Random(20261017)
    img = (np.arange(9 * 7 * 3).reshape(9, 7, 3) % 251).astype(np.uint8)
    idx = (np.arange(6 * 5).reshape(6, 5) % 4).astype(np.uint8)
    palette = bytes(range(12))  # 4 RGB entries
    pal_png = _palette_png(idx, palette)
    assert mm.decode_image(pal_png).tolist() == np.frombuffer(
        palette, np.uint8
    ).reshape(4, 3)[idx].tolist()
    # a PLTE shorter than the largest pixel index is malformed bytes,
    # not a decoder bug: it must fall back like any other corruption
    short_plte = _palette_png(idx, palette[:9])
    with pytest.raises(ValueError):
        mm.decode_image(short_plte)
    sig = np.sin(np.linspace(0, 20, 150)).astype(np.float32)
    cases = (
        ("image", mm.encode_png(img), mm.decode_image),
        ("image", pal_png, mm.decode_image),
        ("audio", mm.encode_wav(sig, 8000), mm.decode_audio),
    )
    for mtype, good, decode in cases:
        muts = [good[:i] for i in range(len(good))]
        if good is pal_png:
            muts.append(short_plte)
        for _ in range(300):
            b = bytearray(good)
            for _k in range(rng.randint(1, 3)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            muts.append(bytes(b))
        pdf = pd.DataFrame(
            {"media_id": range(len(muts)), "payload": muts,
             "media_type": [mtype] * len(muts)}
        )
        (out,) = mm.extract_media_features(iter([pdf]))
        n_fallback = 0
        for m, row in zip(muts, out[_FEATURES].itertuples(index=False)):
            try:
                decode(m)
            except mm.DECODE_ERRORS:
                assert tuple(row) == mm._fallback_features(m)
                n_fallback += 1
            else:
                assert row.decode_ok and row.channels > 0
        # every cut inside the 44-byte WAV header, and most PNG cuts
        assert n_fallback >= 44, (mtype, n_fallback)


def test_decoder_bug_propagates_out_of_page_media_features(spark, monkeypatch):
    """Only decode failures degrade: a decoder that raises
    AttributeError (a bug, not malformed bytes) must fail the job
    instead of silently turning every image into fallback features."""
    import numpy as np

    def kernel(batch_iter):
        # runs in the Python worker: patch the worker's decoder there
        import newscrawl.multimodal as wm

        def broken(payload):
            raise AttributeError("decoder bug")

        orig = wm.decode_image
        wm.decode_image = broken
        try:
            yield from wm.extract_media_features(batch_iter)
        finally:
            wm.decode_image = orig

    monkeypatch.setattr(mm, "extract_media_features", kernel)
    fetched = spark.createDataFrame(
        [("https://h.example.com/a.png",
          bytearray(mm.encode_png(np.zeros((4, 4, 3), np.uint8))))],
        "url string, html binary",
    )
    with pytest.raises(Exception, match="AttributeError"):
        mm.page_media_features(fetched).collect()
