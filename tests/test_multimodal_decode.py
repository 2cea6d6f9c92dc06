"""Real stdlib decode paths: constructed PNG/WAV fixtures
whose construction parameters are the oracle — dimensions, sample rate,
duration, and pixel values are all asserted against what the generator
put in, both pure-Python and through the Spark mapInPandas plumbing.
"""

from __future__ import annotations

import random
import zlib

import pytest

from sqlrs_spark.functions.imaging import (
    _PNG_CHANNELS,
    _PNG_SIG,
    decode_audio,
    decode_image,
    encode_png,
    encode_wav,
    resize_image,
    sniff_decode_meta,
)


def _pixels(w: int, h: int, bpp: int, seed: int = 7) -> bytes:
    rng = random.Random(seed)
    return bytes(rng.randrange(256) for _ in range(w * h * bpp))


@pytest.mark.parametrize(
    "w,h,color_type", [(13, 7, 0), (16, 16, 2), (5, 9, 4), (8, 3, 6)]
)
def test_png_roundtrip_all_color_types(w, h, color_type):
    bpp = _PNG_CHANNELS[color_type]
    src = _pixels(w, h, bpp)
    dw, dh, out = decode_image(encode_png(w, h, src, color_type))
    assert (dw, dh) == (w, h)
    assert bytes(out) == src


def _filtered_png(w: int, h: int, pixels: bytes, bpp: int, ftype: int) -> bytes:
    """Build a PNG whose every scanline uses filter ``ftype`` — exercises
    the unfilter branches our own encoder (filter 0 only) never emits."""
    import struct

    stride = w * bpp
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        enc = bytearray(stride)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (line[i] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(enc)
        prev = line

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}.get(bpp, 2), 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_png_unfilter_sub_up_average_paeth(ftype):
    w, h, bpp = 11, 6, 3
    src = _pixels(w, h, bpp, seed=ftype)
    dw, dh, out = decode_image(_filtered_png(w, h, src, bpp, ftype))
    assert (dw, dh) == (w, h)
    assert bytes(out) == src


def test_png_rejects_non_png_and_exotic():
    from sqlrs_spark.functions.imaging import _pil

    if _pil() is None:
        # no Pillow in this environment: non-PNG must fail loudly with the
        # documented boundary error, never a silent fake
        with pytest.raises(NotImplementedError):
            decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    else:
        # Pillow present: truncated junk must still fail (its own error)
        with pytest.raises(Exception):
            decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    # 16-bit depth PNG: valid container, unsupported depth
    import struct

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    deep = _PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    with pytest.raises(NotImplementedError):
        decode_image(deep)


def test_resize_nearest_neighbor_exact():
    # 8x4 RGB, box 4 → 4x2; expected pixels computed independently here
    w, h, bpp, box = 8, 4, 3, 4
    src = _pixels(w, h, bpp, seed=42)
    out = resize_image(encode_png(w, h, src, 2), box)
    nw, nh, pix = decode_image(out)
    assert (nw, nh) == (4, 2)
    for y in range(nh):
        for x in range(nw):
            sx, sy = x * w // nw, y * h // nh
            expect = src[(sy * w + sx) * bpp : (sy * w + sx) * bpp + bpp]
            got = bytes(pix[(y * nw + x) * bpp : (y * nw + x) * bpp + bpp])
            assert got == expect, (x, y)


def test_resize_tall_and_tiny():
    # tall image: height is the long side; 1-pixel floor kicks in
    w, h, bpp = 2, 300, 1
    src = _pixels(w, h, bpp, seed=3)
    nw, nh, _ = decode_image(resize_image(encode_png(w, h, src, 0), 64))
    assert (nw, nh) == (max(1, 2 * 64 // 300), 64) == (1, 64)


def test_wav_roundtrip_meta_and_pcm():
    rate, n_frames = 8000, 12345
    rng = random.Random(1)
    pcm = bytes(rng.randrange(256) for _ in range(n_frames * 2))  # 16-bit mono
    meta = decode_audio(encode_wav(rate, pcm))
    assert meta["sample_rate"] == rate
    assert meta["n_channels"] == 1
    assert meta["sample_width"] == 2
    assert meta["n_frames"] == n_frames
    assert meta["duration_ms"] == n_frames * 1000 // rate
    assert meta["pcm"] == pcm


def test_wav_rejects_compressed():
    from sqlrs_spark.functions.imaging import _ffmpeg

    if _ffmpeg() is None:
        with pytest.raises(NotImplementedError):
            decode_audio(b"ID3\x04mp3 data")
    else:
        # ffmpeg present: garbage must still fail (transcode error)
        with pytest.raises(Exception):
            decode_audio(b"ID3\x04mp3 data")


def test_jpeg_decodes_via_pillow_backend():
    """Backend-parametrized decode: with Pillow
    present, a real JPEG round-trips through the same decode_image
    signature; skipped (not failed) where the backend is absent."""
    from sqlrs_spark.functions.imaging import _pil, decode_image

    img_mod = _pil()
    if img_mod is None:
        pytest.skip("Pillow not installed in this environment")
    import io as _io

    src = img_mod.new("RGB", (20, 12), (10, 200, 30))
    buf = _io.BytesIO()
    src.save(buf, format="JPEG")
    w, h, px = decode_image(buf.getvalue())
    assert (w, h) == (20, 12)
    assert len(px) == 20 * 12 * 3


def test_compressed_audio_decodes_via_ffmpeg_backend():
    """With ffmpeg present, a non-WAV container transcodes into the same
    decode_audio contract; skipped where absent."""
    from sqlrs_spark.functions.imaging import _ffmpeg, decode_audio, encode_wav

    if _ffmpeg() is None:
        pytest.skip("ffmpeg not installed in this environment")
    import subprocess

    wav = encode_wav(8000, bytes(1600))  # 100ms of silence
    # transcode WAV -> FLAC (lossless, so frame counts survive)
    proc = subprocess.run(
        [_ffmpeg(), "-v", "error", "-i", "pipe:0", "-f", "flac", "pipe:1"],
        input=wav,
        capture_output=True,
        check=True,
    )
    meta = decode_audio(proc.stdout)
    assert meta["sample_rate"] == 8000
    assert meta["n_channels"] == 1


def test_extract_meta_real_on_spark(spark):
    """The Spark-side proof: mixed PNG/WAV/opaque payloads through the
    mapInPandas decode dispatch.  This session's workers can import
    sqlrs_spark (build_spark puts the repo on their PYTHONPATH); a
    driver-provided session's may not, and there by-value cloudpickle
    carries the stdlib decoder."""
    from sqlrs_spark.operators.multimodal import extract_meta_real

    png = encode_png(20, 10, _pixels(20, 10, 3), 2)
    wav = encode_wav(16000, b"\x00\x01" * 16000)  # exactly 1 s
    txt = "plain text payload".encode()
    rows = [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(txt))]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {
        r["doc_id"]: r.asDict()
        for r in extract_meta_real(df).collect()
    }
    assert got[1]["format"] == "png" and (got[1]["width"], got[1]["height"]) == (20, 10)
    assert got[2]["format"] == "wav"
    assert got[2]["width"] == 16000  # sample_rate
    assert got[2]["height"] == 1000  # duration_ms
    exp_kind, exp_w, exp_h = sniff_decode_meta(txt)
    assert exp_kind == "opaque"
    assert (got[3]["format"], got[3]["width"], got[3]["height"]) == (
        "opaque",
        exp_w,
        exp_h,
    )
    assert got[1]["byte_len"] == len(png)
    assert got[1]["magic"] == png[:4].hex()


class TestDHash:
    """dhash64 sensitivity: the near-dup property m05's corpus oracle
    cannot show (md5 patterns are only ever identical or unrelated)."""

    def _noise_png(self, seed: int, w=36, h=32):
        import hashlib

        from sqlrs_spark.functions.imaging import encode_png

        pattern = bytearray()
        i = 0
        while len(pattern) < w * h:
            pattern += hashlib.md5(seed.to_bytes(4, "big") + bytes([i])).digest()
            i += 1
        return encode_png(w, h, bytes(pattern[: w * h]), color_type=0), bytes(
            pattern[: w * h]
        )

    def test_identical_images_hash_equal(self):
        from sqlrs_spark.functions.imaging import dhash64

        png, _ = self._noise_png(1)
        assert dhash64(png) == dhash64(png)

    def test_small_perturbation_stays_near(self):
        import hashlib

        from sqlrs_spark.functions.imaging import dhash64, encode_png

        png, pixels = self._noise_png(2, 36, 32)
        base = dhash64(png)
        # brightness shift +3 on every pixel: grid ORDERING is unchanged,
        # so the hash must be identical
        shifted = bytes(min(p + 3, 255) for p in pixels)
        assert dhash64(encode_png(36, 32, shifted, color_type=0)) == base
        # a few corrupted pixels: only the touched grid cells can flip
        noisy = bytearray(pixels)
        for k in range(5):
            pos = int(hashlib.md5(bytes([k])).hexdigest()[:4], 16) % len(noisy)
            noisy[pos] = 255 - noisy[pos]
        ham = bin(base ^ dhash64(encode_png(36, 32, bytes(noisy), color_type=0))).count("1")
        assert ham <= 10, ham

    def test_unrelated_images_hash_far(self):
        from sqlrs_spark.functions.imaging import dhash64

        a, _ = self._noise_png(3)
        b, _ = self._noise_png(4)
        ham = bin(dhash64(a) ^ dhash64(b)).count("1")
        assert ham > 12, ham


@pytest.mark.parametrize(
    "w,h,color_type",
    [(16, 16, 2), (37, 23, 2), (9, 8, 0), (64, 48, 6), (13, 29, 0), (200, 150, 2)],
)
def test_dhash64_numpy_matches_scalar(w, h, color_type):
    """The vectorized dhash must be bit-identical to the pure-Python
    reference on every shape class: RGB/gray/RGBA, grid-divisible and
    ragged dims (m05's closed-form Hamming oracle depends on the bits)."""
    from sqlrs_spark.functions.imaging import _dhash64_scalar, dhash64

    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    png = encode_png(w, h, _pixels(w, h, bpp, seed=w * h), color_type)
    assert dhash64(png) == _dhash64_scalar(png)


def test_m09_agrees_with_oracle_on_empty_and_null_text(spark, tmp_path):
    """Degenerate-corpus regression (round-6 review finding): for an
    empty doc Spark's sequence(0, -1) DESCENDS instead of returning
    empty and the keyframe bound clamps to 0, emitting phantom j=0 rows
    the oracle's strlen-gated generate_series never produces.  The hx
    length guard must keep both engines identical on a corpus carrying
    NULL and empty texts."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqlrs_spark.registry import all_specs
    from tests.oracle import compare

    texts = [None, "", "short one", "x" * 500, "", None, "tokens here now"]
    d = str(tmp_path / "m09_degenerate")
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["s0"] * len(texts), pa.string()),
                "n_chars": pa.array(
                    [len(t) if t else 0 for t in texts], pa.int64()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    spec = all_specs()["m09_av_keyframe_align"]
    ok, msg = compare(spec.fn(spark, d), con, spec.oracle)
    assert ok, msg
