"""Stdlib-real multimodal decoders: full PNG decode/encode/resize and WAV
parse.  Formats needing native codecs (JPEG entropy decode, MP3/AAC,
video) are decoded through Pillow / ffmpeg WHEN the runtime has them
(probed per call) and raise
NotImplementedError only when neither exists; the stdlib PNG/WAV paths
stay authoritative for those formats so results are backend-independent.

This module is deliberately dependency-free (stdlib only, no sqlrs_spark
imports) and registers itself with pyspark's cloudpickle for BY-VALUE
pickling.  Workers of a ``build_spark`` session have the repo on their
PYTHONPATH, but those of a session handed in by a driver may not (there,
closures importing sqlrs_spark failed with ModuleNotFoundError), so any
UDF closure that references these functions carries their code inside the
pickle.  Keeping the module import-free bounds the pickle to these
functions + stdlib references.
"""

from __future__ import annotations

import hashlib
import io
import struct
import sys
import wave
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# bytes per pixel by PNG color type (8-bit depth): gray, RGB, palette,
# gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_COLOR_TYPE_BY_BPP = {1: 0, 2: 4, 3: 2, 4: 6}


def fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decoding formats this container can't
    (JPEG/video need native codecs). PNG/WAV take the real paths below."""
    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return (h % 1920) + 1, (h % 1080) + 1


def _pil():
    """Runtime probe for Pillow: None when absent.
    Probed per call — import inside the worker process, so the closure
    pickle never carries a PIL reference this container can't satisfy."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except Exception:  # noqa: BLE001 - any import failure means "absent"
        return None


def _ffmpeg():
    """Runtime probe for an ffmpeg binary: path or None."""
    import shutil as _sh

    return _sh.which("ffmpeg")


def decode_image(payload: bytes) -> tuple[int, int, bytearray]:
    """Real image decode, stdlib-only: full PNG pipeline (chunk walk →
    IDAT zlib inflate → per-scanline unfilter) returning
    (width, height, raw pixel bytes, row-major, no filter bytes).

    Supports non-interlaced 8-bit PNGs of any color type (gray / RGB /
    palette-index / gray+alpha / RGBA — palette pixels come back as
    indices).  Non-PNG payloads (JPEG/WebP/…) decode through Pillow when
    the runtime has it; without Pillow, and for PNG variants the stdlib
    path doesn't cover (interlaced, 16-bit), NotImplementedError.
    """
    if payload[:8] != _PNG_SIG:
        # non-PNG: real decode through Pillow when the environment has it
        # (JPEG/WebP/…); the stdlib PNG path below stays authoritative for
        # PNG so hashes/tests are backend-independent
        img_mod = _pil()
        if img_mod is None:
            raise NotImplementedError(
                "non-PNG decode needs Pillow/ffmpeg (not installed); "
                "PNG takes the stdlib path"
            )
        img = img_mod.open(io.BytesIO(payload))
        if img.mode not in ("L", "RGB", "RGBA", "LA"):
            img = img.convert("RGB")
        return img.width, img.height, bytearray(img.tobytes())
    pos, width, height = 8, None, None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise NotImplementedError("only 8-bit non-interlaced PNG is supported")
    bpp = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * bpp
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b, c = prev[i], (prev[i - bpp] if i >= bpp else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return width, height, out


def encode_png(width: int, height: int, pixels: bytes, color_type: int = 2) -> bytes:
    """Minimal stdlib PNG writer (8-bit, filter-0 rows) — the re-encode half
    of the resize path and the test-fixture generator."""
    bpp = _PNG_CHANNELS[color_type]
    stride = width * bpp

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(pixels[y * stride : (y + 1) * stride]) for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def resize_image(payload: bytes, box: int) -> bytes:
    """Real resize: PNG decode → aspect-preserving nearest-neighbor
    resample into a ``box``-pixel bounding square → PNG re-encode.  The
    target-dim arithmetic is the same integer fit m04 plans with."""
    width, height, pixels = decode_image(payload)
    bpp = len(pixels) // (width * height)
    long_side = max(width, height)
    nw = max(1, (width * box) // long_side)
    nh = max(1, (height * box) // long_side)
    out = bytearray(nw * nh * bpp)
    for y in range(nh):
        sy = y * height // nh
        for x in range(nw):
            sx = x * width // nw
            src = (sy * width + sx) * bpp
            dst = (y * nw + x) * bpp
            out[dst : dst + bpp] = pixels[src : src + bpp]
    return encode_png(nw, nh, out, _COLOR_TYPE_BY_BPP[bpp])


def decode_audio(payload: bytes) -> dict:
    """Real audio decode, stdlib-only: WAV (RIFF/WAVE) via the `wave`
    module — channels, sample rate, sample width, frames, duration, PCM.
    Compressed formats (MP3/AAC/OGG) need native codecs → NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        # compressed audio: transcode to WAV through ffmpeg when present,
        # then fall into the stdlib parse below — same output contract
        ff = _ffmpeg()
        if ff is None:
            raise NotImplementedError(
                "compressed-audio decode needs ffmpeg (not installed); "
                "WAV takes the stdlib path"
            )
        import subprocess

        proc = subprocess.run(
            [ff, "-v", "error", "-i", "pipe:0", "-f", "wav", "pipe:1"],
            input=payload,
            capture_output=True,
        )
        if proc.returncode != 0:
            # corrupt/unsupported payloads must surface under the same
            # error contract as the stdlib path (ValueError / wave.Error),
            # not as a CalledProcessError leaking the subprocess detail
            raise ValueError(
                "ffmpeg could not decode audio payload: "
                + proc.stderr.decode("utf-8", "replace").strip()
            )
        payload = proc.stdout
    with wave.open(io.BytesIO(payload)) as wf:
        n_frames = wf.getnframes()
        rate = wf.getframerate()
        return {
            "n_channels": wf.getnchannels(),
            "sample_rate": rate,
            "sample_width": wf.getsampwidth(),
            "n_frames": n_frames,
            "duration_ms": n_frames * 1000 // rate,
            "pcm": wf.readframes(n_frames),
        }


def encode_wav(sample_rate: int, pcm: bytes, n_channels: int = 1, sample_width: int = 2) -> bytes:
    """Minimal WAV writer (test-fixture generator / re-encode half)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(sample_width)
        wf.setframerate(sample_rate)
        wf.writeframes(pcm)
    return buf.getvalue()


def sniff_decode_meta(payload: bytes) -> tuple[str, int, int]:
    """Magic-sniffing decode dispatch, one row-shape per modality:
    ('png', width, height) — real decode; ('wav', sample_rate,
    duration_ms) — real parse; ('opaque', fake w, fake h) otherwise."""
    if payload[:8] == _PNG_SIG:
        w, h, _ = decode_image(payload)
        return "png", w, h
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        meta = decode_audio(payload)
        return "wav", meta["sample_rate"], meta["duration_ms"]
    w, h = fake_decode_dims(payload)
    return "opaque", w, h


# Pickle this module by value so mapInPandas closures can call the
# decoders on workers that cannot import sqlrs_spark (see module doc).
try:  # pragma: no cover - registration is environment-dependent
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 - best-effort; closures also work locally
    pass


def dhash64(payload: bytes) -> int:
    """Perceptual difference-hash of a decoded image, 64 bits.

    Real-pixel pipeline: PNG decode → integer luma (BT.601 weights,
    //1000 — no floats, so the hash is platform-exact) → 9x8 grid by
    integer block mean → one bit per horizontally adjacent cell pair
    (left > right).  Images that differ by small noise/brightness shifts
    land within a few bits; unrelated images differ in ~32 of 64.

    Vectorized with numpy — per-pixel work is array ops (the per-pixel
    Python loop was fine for 16x16 fixtures but not megapixel images);
    all arithmetic stays integer, so the bits are identical to
    :func:`_dhash64_scalar` (pinned by test) and the m05 closed-form
    Hamming oracle keeps holding.
    """
    import numpy as np

    width, height, px = decode_image(payload)
    bpp = len(px) // (width * height)
    a = np.frombuffer(bytes(px), dtype=np.uint8)[: height * width * bpp].reshape(
        height, width, bpp
    )
    if bpp >= 3:
        rgb = a[:, :, :3].astype(np.int64)
        luma = (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
    else:
        luma = a[:, :, 0].astype(np.int64)
    gw, gh = 9, 8
    bw, bh = max(width // gw, 1), max(height // gh, 1)
    grid = np.zeros((gh, gw), dtype=np.int64)
    for gy in range(gh):
        ys = luma[gy * bh : min((gy + 1) * bh, height)]
        for gx in range(gw):
            blk = ys[:, gx * bw : min((gx + 1) * bw, width)]
            grid[gy, gx] = blk.sum() // max(blk.size, 1)
    bits = 0
    for gy in range(gh):
        for gx in range(gw - 1):
            bits = (bits << 1) | (1 if grid[gy, gx] > grid[gy, gx + 1] else 0)
    return bits


def _dhash64_scalar(payload: bytes) -> int:
    """Pure-Python reference for :func:`dhash64` — kept as the exactness
    pin: the numpy path must produce identical 64 bits on any image."""
    width, height, px = decode_image(payload)
    bpp = len(px) // (width * height)
    # integer luma per pixel (gray/palette: the single channel; drop alpha)
    luma = bytearray(width * height)
    for i in range(width * height):
        o = i * bpp
        if bpp >= 3:
            luma[i] = (px[o] * 299 + px[o + 1] * 587 + px[o + 2] * 114) // 1000
        else:
            luma[i] = px[o]
    gw, gh = 9, 8
    bw, bh = max(width // gw, 1), max(height // gh, 1)
    grid = [[0] * gw for _ in range(gh)]
    for gy in range(gh):
        for gx in range(gw):
            s = n = 0
            for y in range(gy * bh, min((gy + 1) * bh, height)):
                for x in range(gx * bw, min((gx + 1) * bw, width)):
                    s += luma[y * width + x]
                    n += 1
            grid[gy][gx] = s // max(n, 1)
    bits = 0
    for gy in range(gh):
        for gx in range(gw - 1):
            bits = (bits << 1) | (1 if grid[gy][gx] > grid[gy][gx + 1] else 0)
    return bits
