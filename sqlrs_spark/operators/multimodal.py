"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched pandas UDFs via mapInPandas.

Decode support is stdlib-real where the format allows it:
PNG is fully decoded — chunk walk, zlib inflate, per-scanline unfilter —
and WAV is parsed with the `wave` module (channels / sample rate /
duration).  Formats that need native codecs (JPEG entropy decode, MP3,
video) still raise NotImplementedError; a production build swaps those
for PIL/ffmpeg with the identical mapInPandas plan shape: decode cost is
per-partition Python, embarrassingly parallel, no shuffle.

The driver-visible queries (m01-m04) build payloads from documents.text
(UTF-8 bytes — sniffed as 'opaque', taking the deterministic md5 fake-dim
path) so the DuckDB oracle can recompute every output field directly from
the text column; the real PNG/WAV decode paths are exercised on
constructed fixtures in tests/test_multimodal_decode.py where the
construction parameters are the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlrs_spark.functions.imaging import (  # noqa: F401 - re-exported API
    decode_audio,
    decode_image,
    encode_png,
    encode_wav,
    fake_decode_dims,
    resize_image,
    sniff_decode_meta,
)
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

META_SCHEMA = "doc_id bigint, format string, byte_len bigint, magic string, width int, height int"


def extract_meta_real(binary_df: DataFrame) -> DataFrame:
    """Decode-dispatching metadata extraction: real PNG decode / WAV parse
    where the magic bytes match, md5 fake-dims for opaque payloads.

    The closure references sqlrs_spark.functions.imaging, which registers
    itself for cloudpickle BY-VALUE pickling — workers without the repo on
    PYTHONPATH still run it (the module is stdlib-only, so the pickle
    carries everything).  A ``build_spark`` session's workers have the
    repo; a driver-provided session's may not.  Exercised on constructed PNG/WAV fixtures in
    tests/test_multimodal_decode.py.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            meta = [sniff_decode_meta(p) for p in payloads]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": [m[0] for m in meta],
                    "byte_len": [len(p) for p in payloads],
                    "magic": [p[:4].hex() for p in payloads],
                    "width": [m[1] for m in meta],
                    "height": [m[2] for m in meta],
                }
            )

    return binary_df.mapInPandas(op, schema=META_SCHEMA)


def binarize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → opaque binary column + typed metadata struct.
    This is the storage shape for image/audio/video at scale: payload as
    parquet binary, metadata as plain columns for pushdown-able filtering."""
    docs = load_table(spark, sf_dir, "documents").filter(
        # degenerate-corpus policy (round-6 sweep): a NULL text has no
        # payload — binarization skips it, and every m-oracle mirrors
        # the same WHERE; empty text stays (a zero-byte payload is a
        # legitimate decode input)
        F.col("text").isNotNull()
    )
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("txt").alias("format"),
            F.length(F.encode("text", "utf-8")).alias("byte_len"),
        ).alias("meta"),
    )


def extract_meta(binary_df: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction over binary payloads — the plumbing a
    real decode/resize/frame-sample UDF rides on (Arrow batches in/out)."""

    # NOTE: self-contained closure (no sqlrs_spark references) — executors
    # of a driver-provided session may not have the repo on their
    # PYTHONPATH (build_spark's do), so the UDF must pickle by value. Keep
    # any helper logic inlined here.
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def _dims(payload: bytes) -> tuple[int, int]:
            h = int(_hashlib.md5(payload).hexdigest()[:15], 16)
            return (h % 1920) + 1, (h % 1080) + 1

        for pdf in batches:
            payloads = pdf["payload"]
            dims = [_dims(p) for p in payloads]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": [m["format"] for m in pdf["meta"]],
                    "byte_len": payloads.map(len),
                    "magic": payloads.map(lambda b: b[:4].hex()),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return binary_df.mapInPandas(op, schema=META_SCHEMA)


# magic must be the first 4 BYTES of the payload (8 hex chars) — substr on
# TEXT would take 4 CHARACTERS, which diverges on multi-byte UTF-8 (caught
# by the unicode-adversarial corpus in tests/test_unicode_robustness.py)
_M01_ORACLE = """
SELECT doc_id,
       'txt'                                        AS format,
       strlen(text)                                 AS byte_len,
       lower(substr(hex(encode(text)), 1, 8))       AS magic,
       CAST((('0x'||substr(md5(text),1,15))::BIGINT % 1920) + 1 AS INT) AS width,
       CAST((('0x'||substr(md5(text),1,15))::BIGINT % 1080) + 1 AS INT) AS height
FROM documents WHERE text IS NOT NULL
ORDER BY doc_id
"""


@register("m01_multimodal_meta", oracle=_M01_ORACLE, tags=("pipeline", "multimodal"))
def m01_multimodal_meta(spark, sf_dir):
    """Binary-column pipeline: binarize → mapInPandas decode-stub →
    metadata table. The oracle recomputes every field from the source text,
    so the whole Arrow round-trip is value-checked."""
    return extract_meta(binarize_documents(spark, sf_dir)).orderBy("doc_id")


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_len int, frame_md5 string"


def sample_frames(binary_df: DataFrame, frame_bytes: int = 256, stride: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: chunk each payload
    into fixed-size frames, keep every ``stride``-th frame, emit one row per
    sampled frame (row-exploding mapInPandas — the shape a real
    ffmpeg-frame-sample UDF rides on).

    Scale: runs per-partition with no shuffle; output row count is
    len/(frame_bytes·stride) per document, so the explosion factor is
    bounded and predictable for downstream sizing.
    """

    # self-contained closure — must pickle by value (no repo on executors)
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            doc_ids, idxs, lens, hashes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    chunk = payload[i * frame_bytes : (i + 1) * frame_bytes]
                    doc_ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(chunk))
                    hashes.append(_hashlib.md5(chunk).hexdigest())
            yield _pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": idxs,
                    "frame_len": lens,
                    "frame_md5": hashes,
                }
            )

    return binary_df.mapInPandas(op, schema=FRAME_SCHEMA)


_M02_ORACLE = """
SELECT d.doc_id,
       CAST(gs.i AS INT)                            AS frame_idx,
       CAST(strlen(substr(text, CAST(gs.i*256 + 1 AS BIGINT), 256)) AS INT) AS frame_len,
       md5(substr(text, CAST(gs.i*256 + 1 AS BIGINT), 256))         AS frame_md5
FROM documents d
JOIN generate_series(0, 1000000, 4) AS gs(i)
  ON gs.i <= ((strlen(d.text) + 255) // 256) - 1
WHERE d.text IS NOT NULL
ORDER BY doc_id, frame_idx
"""


@register("m02_frame_sample", oracle=_M02_ORACLE, tags=("pipeline", "multimodal"))
def m02_frame_sample(spark, sf_dir):
    """Frame sampling over binary payloads: 256-byte frames, every 4th kept,
    one output row per sampled frame. The oracle re-derives every frame's
    length and md5 from the source text via generate_series, so the
    row-exploding Arrow round-trip is fully value-checked."""
    return sample_frames(binarize_documents(spark, sf_dir)).orderBy(
        "doc_id", "frame_idx"
    )


EMBED_SCHEMA = "doc_id bigint, embedding array<double>, norm double"
_EMBED_DIM = 8


def fake_embed(binary_df: DataFrame) -> DataFrame:
    """Embedding-extraction plumbing: payload → fixed-dim float vector via
    mapInPandas. The encoder is the md5-derived deterministic stand-in
    (real builds swap in a model forward pass; batch shape, Arrow
    transfer, and output schema are identical).

    Scale: per-partition Python with no shuffle; at 100 TB this stage is
    GPU/CPU-bound per batch, so partition sizing (not the plan) is the
    tuning knob.
    """

    # self-contained closure — must pickle by value (no repo on executors)
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import math as _math

        import pandas as _pd

        def _vec(payload: bytes) -> list[float]:
            return [
                (
                    int(
                        _hashlib.md5(payload + b"|" + str(i).encode()).hexdigest()[:15],
                        16,
                    )
                    % 1000
                )
                / 1000.0
                for i in range(8)
            ]

        for pdf in batches:
            vecs = [_vec(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "embedding": vecs,
                    "norm": [_math.sqrt(sum(x * x for x in v)) for v in vecs],
                }
            )

    return binary_df.mapInPandas(op, schema=EMBED_SCHEMA)


# Contract output is EXPLODED to (doc_id, dim_idx, value, norm) rows: the
# driver canonicalizes results through pandas sort_values, which cannot
# hash a raw array<double> column (round-2 red row: "unhashable type:
# 'list'").  Exploding keeps every dimension value-checked — stronger than
# digesting — while the array-shaped API (fake_embed) stays the building
# block other operators consume.
_M03_ORACLE = """
WITH v AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7), i ->
           ((('0x'||substr(md5(text || '|' || i), 1, 15))::BIGINT % 1000) / 1000.0)
         ) AS embedding
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(g.i AS INT)      AS dim_idx,
       embedding[g.i + 1]    AS value,
       sqrt(list_sum(list_transform(embedding, x -> x * x))) AS norm
FROM v JOIN generate_series(0, 7) AS g(i) ON true
ORDER BY doc_id, dim_idx
"""


@register("m03_fake_embed", oracle=_M03_ORACLE, tags=("pipeline", "multimodal"))
def m03_fake_embed(spark, sf_dir):
    """Payload → embedding extraction through the binary-column pipeline
    (binarize → mapInPandas encoder stub → array<double> + norm), exploded
    to one (doc_id, dim_idx, value, norm) row per dimension so the driver
    can hash it (see _M03_ORACLE note). The oracle recomputes each
    dimension from the text with the same md5 derivation, value-checking
    the whole Arrow array round-trip dim by dim."""
    emb = fake_embed(binarize_documents(spark, sf_dir))
    return emb.select(
        "doc_id",
        F.posexplode("embedding").alias("dim_idx", "value"),
        "norm",
    ).orderBy("doc_id", "dim_idx")


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int"
)

_RESIZE_BOX = 256

_M04_ORACLE = f"""
WITH dims AS (
  SELECT doc_id,
         CAST((('0x'||substr(md5(text),1,15))::BIGINT % 1920) + 1 AS INT) AS width,
         CAST((('0x'||substr(md5(text),1,15))::BIGINT % 1080) + 1 AS INT) AS height
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, width, height,
       CAST(greatest(1, (width  * {_RESIZE_BOX}) // greatest(width, height)) AS INT)
         AS new_width,
       CAST(greatest(1, (height * {_RESIZE_BOX}) // greatest(width, height)) AS INT)
         AS new_height
FROM dims
ORDER BY doc_id
"""


@register("m04_resize", oracle=_M04_ORACLE, tags=("pipeline", "multimodal"))
def m04_resize(spark, sf_dir):
    """Aspect-preserving resize planning over binary payloads: decode
    dimensions (stubbed — fake_decode_dims), fit to a 256-pixel box with
    integer arithmetic, emit old+new dims per document.

    The Spark-side plumbing is the production shape for bulk image
    preprocessing: mapInPandas over the binary column, Arrow batches
    in/out, per-partition Python with NO shuffle — a real build swaps the
    dim stub for PIL decode + actual pixel resampling writing a new
    binary column, and the plan is unchanged.  The fit arithmetic is
    integer-exact ((d*box) div max-dim, floor, min 1) so the DuckDB
    oracle reproduces it bit-for-bit from the text payload.
    """
    binary_df = binarize_documents(spark, sf_dir)

    # self-contained closure — a driver-provided session's executors may
    # lack the repo on PYTHONPATH (build_spark's have it)
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        box = 256

        def _dims(payload: bytes) -> tuple[int, int]:
            h = int(_hashlib.md5(payload).hexdigest()[:15], 16)
            return (h % 1920) + 1, (h % 1080) + 1

        for pdf in batches:
            payloads = pdf["payload"]
            dims = [_dims(bytes(b)) for b in payloads]
            long_side = [max(w, h) for w, h in dims]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "new_width": [
                        max(1, (w * box) // ls) for (w, _), ls in zip(dims, long_side)
                    ],
                    "new_height": [
                        max(1, (h * box) // ls) for (_, h), ls in zip(dims, long_side)
                    ],
                }
            )

    return binary_df.mapInPandas(op, schema=RESIZE_SCHEMA).orderBy("doc_id")


_M05_HAMMING_T = 6
_M05_EVERY = 50  # docs with doc_id % 50 == 0 get a planted near-dup twin
_M05_OFF = 1 << 50  # twin id offset — far above any replica's key stride


@register(
    "m05_image_neardup",
    # The fixture PLANTS near-dup pairs (round-2 finding: 0-vs-0 rows was
    # a vacuous hash match): every doc_id % 50 == 0 gets a twin image
    # whose first pixel-block row is re-authored to flip EXACTLY
    # (doc_id/50) % 4 dHash bits, all inside one 16-bit band, so (a) the
    # pair is guaranteed to surface through the band join (3 of 4 bands
    # identical) and (b) the Hamming distance the pipeline must report is
    # a closed-form function of doc_id the oracle states without decoding
    # anything.  md5-equal text pairs (none in this corpus — their
    # absence is what makes the second clause exact alongside the planted
    # set) would additionally surface as Hamming-0 base pairs.
    oracle=f"""
    SELECT doc_id                         AS doc_a,
           doc_id + {_M05_OFF}            AS doc_b,
           CAST((doc_id // {_M05_EVERY}) % 4 AS INT) AS hamming
    FROM documents WHERE doc_id % {_M05_EVERY} = 0 AND text IS NOT NULL
    UNION ALL
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS hamming
    FROM documents a JOIN documents b
      ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
    tags=("pipeline", "multimodal", "dedup"),
)
def m05_image_neardup(spark, sf_dir):
    """Image near-dup detection over REAL decoded pixels: render each doc
    a deterministic 18x16 grayscale PNG (md5-expanded pattern with a
    controlled first block-row), run the full decode → integer-luma →
    9x8 grid → 64-bit dHash pipeline (functions/imaging.dhash64), then
    LSH-band the hash (4 x 16-bit bands) and keep candidate pairs within
    Hamming <= 6.

    Planted twins (see oracle note): every 50th doc also renders a
    perturbed copy under id doc_id + 2^50.  The perturbation re-authors
    the top 2-pixel row of blocks to reproduce the BASE image's 8 row-0
    comparison signs with the first f = (doc_id/50) % 4 flipped — so the
    twin's dHash differs in exactly f bits, all within the rows-0/1
    band, while the other 3 bands (md5-noise rows) are untouched.  Base
    images keep their natural md5 row 0: every band retains its full
    16-bit entropy for unrelated pairs (an earlier fixed-ramp variant
    pinned 8 of band 3's bits corpus-wide — 256x the unrelated-pair band
    collisions, a quadratic candidate blowup at corpus scale).  The driver hash therefore covers
    true non-identical-byte near-dup discovery end to end: different
    PNGs, real decode, f-bit Hamming, band-join recall.

    Scale shape — the multimodal twin of p03's SimHash plan: decode +
    dHash are Arrow-batched per-partition Python (the unavoidable
    Python stage, embarrassingly parallel, no shuffle); everything after
    is pure SQL — band explode, equi self-join on (band, band_val), XOR
    bit_count verify.  Payload bytes never shuffle: the join carries
    (doc_id, 4 smallints), the verify joins hashes by doc_id.
    """
    from sqlrs_spark.functions.imaging import dhash64, encode_png

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # degenerate-corpus policy
        .select("doc_id", "text")
    )
    every, off = _M05_EVERY, _M05_OFF

    def to_hash(batches):
        import hashlib as _hashlib

        import pandas as _pd

        w, h = 18, 16

        def set_row0(pattern: bytearray, vals) -> None:
            # write block row gy=0 (pixel rows y=0,1): block gx covers
            # x = 2gx, 2gx+1 — all 4 pixels set to vals[gx], so the 2x2
            # integer block mean is exactly vals[gx]
            for gx in range(9):
                for x in (2 * gx, 2 * gx + 1):
                    pattern[x] = vals[gx]
                    pattern[w + x] = vals[gx]

        def hash_of(pattern: bytes) -> int:
            hv = dhash64(encode_png(w, h, bytes(pattern), color_type=0))
            return hv - (1 << 64) if hv >= (1 << 63) else hv  # signed BIGINT

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                seed = _hashlib.md5(text.encode("utf-8")).digest()
                pattern = bytearray()
                i = 0
                while len(pattern) < w * h:
                    pattern += _hashlib.md5(seed + bytes([i])).digest()
                    i += 1
                pattern = bytearray(pattern[: w * h])
                # base images keep their NATURAL md5 row 0 — a fixed ramp
                # here made the 8 row-0 dHash bits constant corpus-wide,
                # collapsing band 3 from 16 to 8 effective entropy bits
                # (256x the unrelated-pair band collisions: a quadratic
                # candidate blowup at corpus scale, found in round-3
                # review); the planted Hamming contract only needs the
                # TWIN's comparisons defined relative to the base's.
                ids.append(doc_id)
                hashes.append(hash_of(pattern))
                if doc_id % every == 0:
                    f = (doc_id // every) % 4
                    # base row-0 block means, exactly as dhash64 computes
                    # them (2x2 integer sum // 4)
                    m = [
                        (
                            pattern[2 * gx]
                            + pattern[2 * gx + 1]
                            + pattern[w + 2 * gx]
                            + pattern[w + 2 * gx + 1]
                        )
                        // 4
                        for gx in range(9)
                    ]
                    # author twin block values reproducing the base's
                    # comparison signs with the first f flipped: bit gx
                    # differs iff gx < f -> Hamming is exactly f, all
                    # inside the rows-0/1 band, other bands untouched
                    vals = [128]
                    for gx in range(8):
                        want = (m[gx] > m[gx + 1]) ^ (gx < f)
                        vals.append(vals[-1] - 10 if want else vals[-1] + 10)
                    twin = bytearray(pattern)
                    set_row0(twin, vals)
                    ids.append(doc_id + off)
                    hashes.append(hash_of(twin))
            yield _pd.DataFrame({"doc_id": ids, "dhash": hashes})

    hashed = docs.mapInPandas(to_hash, schema="doc_id bigint, dhash bigint")
    return spark.sql(
        f"""
        WITH bands AS (
          SELECT doc_id, dhash, band,
                 shiftright(dhash, band * 16) & 65535 AS band_val
          FROM {{hashed}} LATERAL VIEW explode(sequence(0, 3)) AS band
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.dhash AS ha, b.dhash AS hb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(ha ^ hb) AS INT) AS hamming
        FROM cand
        WHERE bit_count(ha ^ hb) <= {_M05_HAMMING_T}
        ORDER BY doc_a, doc_b
        """,
        hashed=hashed,
    )


# ---------------------------------------------------------------------------
# m06 — audio loudness windows over a REAL WAV codec round-trip.
# m01-m05 exercise the real PNG decode on constructed fixtures; m06 puts
# the real `wave` codec (functions/imaging.py encode_wav/decode_audio) on
# a driver-checked path: PCM synthesized deterministically from
# documents.text bytes -> RIFF/WAVE encode -> full decode -> per-window
# integer energy/peak, every output value recomputable by the DuckDB
# oracle from the source text alone.
# ---------------------------------------------------------------------------

_M06_CAP_BYTES = 2048  # PCM length cap per doc (samples = bytes)
_M06_WIN = 256  # samples per loudness window
_M06_RATE = 8000  # Hz, mono, 16-bit

AUDIO_WIN_SCHEMA = (
    "doc_id bigint, win_idx int, n_samples int, energy bigint, peak int"
)

# Every arithmetic step is integer-exact: sample = (byte - 128) * 256
# (int16 range), energy = floor-mean of squares (<= 2^41, BIGINT-safe),
# peak = max |sample|.  The oracle re-derives the byte stream via
# hex(encode(text)) — BYTE semantics, not characters (the m01 lesson) —
# so multi-byte UTF-8 docs agree exactly.
_M06_ORACLE = f"""
WITH h AS (
  SELECT doc_id, substr(hex(encode(text)), 1, {2 * _M06_CAP_BYTES}) AS hx
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id,
         g.j // {_M06_WIN} AS win_idx,
         (('0x' || substr(hx, g.j * 2 + 1, 2))::INT - 128) * 256 AS smp
  FROM h JOIN generate_series(0, {_M06_CAP_BYTES - 1}) AS g(j)
    ON g.j * 2 < strlen(hx)
)
SELECT doc_id,
       CAST(win_idx AS INT)                           AS win_idx,
       CAST(COUNT(*) AS INT)                          AS n_samples,
       CAST(SUM(CAST(smp AS BIGINT) * smp) // COUNT(*) AS BIGINT) AS energy,
       CAST(MAX(ABS(smp)) AS INT)                     AS peak
FROM s
GROUP BY doc_id, win_idx
ORDER BY doc_id, win_idx
"""


@register("m06_audio_windows", oracle=_M06_ORACLE, tags=("pipeline", "multimodal"))
def m06_audio_windows(spark, sf_dir):
    """Windowed loudness analysis through a real WAV round-trip: synthesize
    16-bit mono PCM from each document's UTF-8 bytes, encode a RIFF/WAVE
    container, decode it back with the stdlib `wave` codec, then emit one
    row per 256-sample window with its integer mean-square energy
    and peak amplitude — the feature a speech-corpus silence/clipping
    filter consumes.

    Scale design: the encode->decode->window chain is per-partition Python
    over Arrow batches (mapInPandas) with NO shuffle — decode parallelism
    is embarrassing, exactly like the PNG path (module doc).  Output is
    len/256 rows per doc (bounded fan-out), and the energy/peak
    arithmetic is integer-only so the driver value hash is stable across
    engines and partitionings."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        cap, win = _M06_CAP_BYTES, _M06_WIN
        for pdf in batches:
            doc_ids, widx, wn, wen, wpk = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)[:cap]
                samples = [(b - 128) * 256 for b in raw]
                pcm = b"".join(
                    s.to_bytes(2, "little", signed=True) for s in samples
                )
                wav = encode_wav(_M06_RATE, pcm)
                decoded = decode_audio(wav)  # real stdlib WAV parse
                assert decoded["sample_rate"] == _M06_RATE
                got = decoded["pcm"]
                back = [
                    int.from_bytes(got[i : i + 2], "little", signed=True)
                    for i in range(0, len(got), 2)
                ]
                for w0 in range(0, len(back), win):
                    chunk = back[w0 : w0 + win]
                    doc_ids.append(doc_id)
                    widx.append(w0 // win)
                    wn.append(len(chunk))
                    wen.append(sum(s * s for s in chunk) // len(chunk))
                    wpk.append(max(abs(s) for s in chunk))
            yield _pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "win_idx": widx,
                    "n_samples": wn,
                    "energy": wen,
                    "peak": wpk,
                }
            )

    return (
        binarize_documents(spark, sf_dir)
        .mapInPandas(op, schema=AUDIO_WIN_SCHEMA)
        .orderBy("doc_id", "win_idx")
    )


# ---------------------------------------------------------------------------
# m07 — ViT-style patch-grid feature extraction over a REAL PNG round-trip.
# m05 proves decode→perceptual-hash; m07 proves decode→patch tensorization,
# the preprocessing shape a vision-encoder ingest pipeline runs: image →
# fixed patch grid → per-patch statistics, one row per patch.
# ---------------------------------------------------------------------------

_M07_W = 16  # image side (pixels), grayscale
_M07_P = 4  # patch side: 4x4 grid of 4x4-pixel patches

# The fixture image is md5-expanded from the TEXT (block i of the pixel
# buffer = md5(md5_hex(text) || str(i)), 16 bytes each) — chosen so the
# DuckDB oracle can restate every pixel byte from hex-string arithmetic
# alone, while the Spark side must earn the same numbers through the real
# encode_png -> decode_image codec round-trip.  Integer-exact throughout:
# mean = floor-sum/16, min/max over bytes.
_M07_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5(text) AS seed FROM documents WHERE text IS NOT NULL
),
blocks AS (
  SELECT doc_id, b.i AS blk, md5(seed || CAST(b.i AS VARCHAR)) AS bh
  FROM h JOIN generate_series(0, {_M07_W * _M07_W // 16 - 1}) AS b(i) ON TRUE
),
px AS (
  SELECT doc_id, (blk * 16 + g.j) AS k,
         ('0x' || substr(bh, g.j * 2 + 1, 2))::INT AS v
  FROM blocks JOIN generate_series(0, 15) AS g(j) ON TRUE
)
SELECT doc_id,
       CAST((k // {_M07_W}) // {_M07_P} AS INT) AS patch_y,
       CAST((k % {_M07_W}) // {_M07_P} AS INT)  AS patch_x,
       CAST(SUM(v) // {_M07_P * _M07_P} AS INT) AS mean_luma,
       CAST(MIN(v) AS INT)                      AS min_luma,
       CAST(MAX(v) AS INT)                      AS max_luma
FROM px
GROUP BY 1, 2, 3
ORDER BY doc_id, patch_y, patch_x
"""


@register("m07_patch_grid", oracle=_M07_ORACLE, tags=("pipeline", "multimodal"))
def m07_patch_grid(spark, sf_dir):
    """Patch-grid tensorization through the real PNG codec: render each
    doc a deterministic 16x16 grayscale PNG, full encode -> decode
    (functions/imaging.decode_image: chunk walk, IDAT inflate, scanline
    unfilter), split the decoded pixels into a 4x4 grid of 4x4-pixel
    patches and emit one row per patch with integer-exact mean/min/max
    luma — the ViT-preprocessing shape (image -> patch sequence) on a
    driver-checked path.

    The oracle recomputes every pixel from md5 hex arithmetic (the m06
    byte-level discipline), so the value hash proves the codec round-trip
    is lossless AND the patch indexing/stats agree to the byte.

    Scale shape: mapInPandas, Arrow-batched, embarrassingly parallel —
    payload bytes never shuffle; the patch fan-out (16 rows/doc) happens
    Python-side inside the batch, and the output carries only (ids, 3
    small ints).  At 100 TB this is the canonical decode stage: one
    pass, no exchange, output ~constant bytes per image.
    """
    from sqlrs_spark.functions.imaging import decode_image, encode_png

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # degenerate-corpus policy
        .select("doc_id", "text")
    )
    w, p = _M07_W, _M07_P

    def to_patches(batches):
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "patch_y", "patch_x",
                                   "mean_luma", "min_luma", "max_luma")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                seed = _hashlib.md5(text.encode("utf-8")).hexdigest()
                pattern = bytearray()
                for i in range(w * w // 16):
                    pattern += _hashlib.md5(f"{seed}{i}".encode()).digest()
                dw, dh, pix = decode_image(encode_png(w, w, bytes(pattern), color_type=0))
                assert (dw, dh) == (w, w)
                for py in range(w // p):
                    for px_ in range(w // p):
                        vals = [
                            pix[(py * p + dy) * w + (px_ * p + dx)]
                            for dy in range(p)
                            for dx in range(p)
                        ]
                        out["doc_id"].append(int(doc_id))
                        out["patch_y"].append(py)
                        out["patch_x"].append(px_)
                        out["mean_luma"].append(sum(vals) // (p * p))
                        out["min_luma"].append(min(vals))
                        out["max_luma"].append(max(vals))
            yield _pd.DataFrame(out)

    grid = docs.mapInPandas(
        to_patches,
        schema="doc_id bigint, patch_y int, patch_x int,"
        " mean_luma int, min_luma int, max_luma int",
    )
    return grid.orderBy("doc_id", "patch_y", "patch_x")


# ---------------------------------------------------------------------------
# m08 — scene-change detection over frame sequences (video-shape analysis)
# ---------------------------------------------------------------------------

#: |mean-luma delta| at or above this marks a scene boundary (probed on the
#: corpus: ~16% of frame transitions at 3 — sparse but non-degenerate)
_M08_THRESH = 3
_M08_FRAME = 256

_M08_ORACLE = f"""
WITH frames AS (
  SELECT d.doc_id, gs.i AS fi,
         list_reduce(list_prepend(0::BIGINT, list_transform(
           string_split(substr(d.text, CAST(gs.i*{_M08_FRAME} + 1 AS BIGINT),
                               {_M08_FRAME}), ''),
           x -> ascii(x)::BIGINT)), (a, b) -> a + b)
           // strlen(substr(d.text, CAST(gs.i*{_M08_FRAME} + 1 AS BIGINT),
                            {_M08_FRAME})) AS luma
  FROM documents d
  JOIN generate_series(0, 1000000, 1) AS gs(i)
    ON gs.i <= ((strlen(d.text) + {_M08_FRAME} - 1) // {_M08_FRAME}) - 1
  WHERE d.text IS NOT NULL
),
marked AS (
  SELECT doc_id, fi,
         CASE WHEN ABS(luma - LAG(luma) OVER (PARTITION BY doc_id ORDER BY fi))
                   >= {_M08_THRESH}
              THEN 1 ELSE 0 END AS boundary
  FROM frames
)
SELECT doc_id,
       COUNT(*) AS n_frames,
       CAST(SUM(boundary) + 1 AS BIGINT) AS n_scenes,
       CAST(SUM(CASE WHEN boundary = 1 THEN fi ELSE 0 END) AS BIGINT)
         AS boundary_checksum
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


@register("m08_scene_change", oracle=_M08_ORACLE, tags=("pipeline", "multimodal"))
def m08_scene_change(spark, sf_dir):
    """Scene-change detection over a frame sequence: per-frame mean
    brightness (integer mean byte value over {_M08_FRAME}-byte frames),
    boundaries where the frame-to-frame delta reaches the threshold —
    the shot-segmentation pass a video-curation pipeline runs to pick
    representative frames per scene (m02 samples frames blindly; this
    picks WHERE to sample).  Payloads are the documents' utf-8 bytes
    standing in as raw video (the m01/m02 convention: real bytes, real
    numpy math, deterministic oracle).

    Spark shape: mapInPandas over the binary column — numpy does the
    frame reshape + per-frame sums + boundary scan per payload, Arrow-
    batched, and each document collapses to ONE output row inside the
    UDF, so frames never materialize in the engine and nothing shuffles
    but the final per-doc rows (the ORDER BY is the test-determinism
    sort).  The oracle restates the identical frame sums through SQL
    character arithmetic (corpus is ASCII; byte == char, the m02
    convention).
    """
    import numpy as _np

    docs = binarize_documents(spark, sf_dir).select("doc_id", "payload")

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            ids, nfr, nsc, chk = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = _np.frombuffer(bytes(payload), dtype=_np.uint8)
                n_frames = (len(arr) + _M08_FRAME - 1) // _M08_FRAME
                if n_frames == 0:
                    # zero-byte payload: no frames, no scenes — emit
                    # nothing, matching the oracle's frame-join (which
                    # produces no rows for an empty doc)
                    continue
                lumas = [
                    int(arr[i * _M08_FRAME : (i + 1) * _M08_FRAME].sum())
                    // len(arr[i * _M08_FRAME : (i + 1) * _M08_FRAME])
                    for i in range(n_frames)
                ]
                bounds = [
                    i
                    for i in range(1, n_frames)
                    if abs(lumas[i] - lumas[i - 1]) >= _M08_THRESH
                ]
                ids.append(int(doc_id))
                nfr.append(n_frames)
                nsc.append(len(bounds) + 1)
                chk.append(sum(bounds))
            yield _pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_frames": nfr,
                    "n_scenes": nsc,
                    "boundary_checksum": chk,
                }
            )

    out = docs.mapInPandas(
        detect,
        schema="doc_id bigint, n_frames bigint, n_scenes bigint,"
        " boundary_checksum bigint",
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# m09 — cross-stream A/V alignment: keyframes asof-joined to loud audio.
# m06 proves the codec path; m09 proves the TEMPORAL composition a video
# ingest pipeline needs: two derived per-doc streams on one clock
# (irregular keyframes, irregular above-average-loudness audio windows),
# aligned with the x12 as-of machinery partitioned BY DOCUMENT.
# ---------------------------------------------------------------------------

_M09_CAP = 2048  # sample horizon per doc (samples = payload bytes)
_M09_WIN = 64  # samples per audio loudness window
_M09_STEP = 100  # samples per video frame (irregular vs the 64 grid)
_M09_BRIGHT = 192  # keyframe threshold on the md5-derived luma byte

# The oracle restates both streams from hex/md5 arithmetic and arbitrates
# the alignment with DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
# formulation of the windowed carry-forward the Spark plan runs (the x12
# pattern: same answer, different machinery).  Integer-exact throughout.
_M09_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5(text) AS seed,
         substr(hex(encode(text)), 1, {2 * _M09_CAP}) AS hx
  FROM documents
),
s AS (
  SELECT doc_id, g.j // {_M09_WIN} AS w,
         (('0x' || substr(hx, g.j * 2 + 1, 2))::INT - 128) * 256 AS smp
  FROM h JOIN generate_series(0, {_M09_CAP - 1}) AS g(j) ON g.j * 2 < strlen(hx)
),
win AS (
  SELECT doc_id, CAST(w AS INT) AS win_idx,
         CAST({_M09_WIN} * w AS BIGINT) AS t,
         CAST(SUM(CAST(smp AS BIGINT) * smp) // COUNT(*) AS BIGINT) AS energy
  FROM s GROUP BY doc_id, w
),
bar AS (
  SELECT doc_id, SUM(energy) AS tot, COUNT(*) AS nw FROM win GROUP BY doc_id
),
loud AS (
  SELECT win.doc_id, win_idx, t, energy
  FROM win JOIN bar USING (doc_id)
  WHERE energy * nw > tot
),
kf AS (
  SELECT h.doc_id, CAST(g.j AS INT) AS frame_idx,
         CAST({_M09_STEP} * g.j AS BIGINT) AS frame_t
  FROM h JOIN generate_series(0, {(_M09_CAP - 1) // _M09_STEP}) AS g(j)
    ON g.j * {2 * _M09_STEP} < strlen(hx)
  WHERE ('0x' || substr(md5(seed || CAST(g.j AS VARCHAR)), 1, 2))::INT
          >= {_M09_BRIGHT}
)
SELECT k.doc_id, k.frame_idx, k.frame_t,
       l.win_idx AS win_idx, l.energy AS win_energy
FROM kf k ASOF LEFT JOIN loud l
  ON k.doc_id = l.doc_id AND l.t <= k.frame_t
ORDER BY k.doc_id, k.frame_idx
"""


@register(
    "m09_av_keyframe_align",
    oracle=_M09_ORACLE,
    tags=("pipeline", "multimodal", "temporal"),
)
def m09_av_keyframe_align(spark, sf_dir):
    """A/V stream alignment: every KEYFRAME (video frames every 100
    samples whose md5-derived luma clears a brightness bar — irregular)
    is attributed to the most recent LOUD audio window (64-sample windows
    whose integer mean-square energy exceeds the doc's average —
    irregular) at or before it on the shared sample clock.  This is the
    caption/moment-alignment shape of video-corpus curation, and neither
    stream is periodic, so it is a genuine as-of, not a division.

    Spark-first plan, all keyed by doc_id (the natural 100-TB partition):
    sample explosion is BOUNDED (<= 2048 rows/doc), window energies are
    one (doc, win) hash aggregate, the per-doc loudness bar is a window
    aggregate on the same doc partitioning, and the alignment is the x12
    tagged-window carry-forward — one union, one per-doc sort, a running
    last(ignorenulls); no pair join ever materializes.  The DuckDB
    oracle arbitrates with its native ASOF LEFT JOIN — an independent
    formulation that must produce identical rows (ties: a window AT the
    keyframe's sample time counts, tag-ordering <=> ASOF's <=).
    """
    from sqlrs_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.encode("text", "utf-8")).alias("seed"),
        F.substring(F.hex(F.encode("text", "utf-8")), 1, 2 * _M09_CAP).alias("hx"),
    ).filter(
        # NULL/empty docs carry no samples.  Without this guard Spark's
        # sequence(0, -1) DESCENDS ([0, -1]) instead of returning empty,
        # and the keyframe bound clamps to 0 — both would emit phantom
        # rows the oracle's strlen-gated generate_series never produces
        # (review finding, round 6)
        F.length("hx") > 0
    )

    smp = F.expr("(CAST(conv(substr(hx, j * 2 + 1, 2), 16, 10) AS INT) - 128) * 256")
    win = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(0, CAST(length(hx) / 2 AS INT) - 1)")
            ).alias("j"),
            "hx",
        )
        .select("doc_id", (F.col("j") / _M09_WIN).cast("int").alias("w"), smp.alias("smp"))
        .groupBy("doc_id", "w")
        .agg(
            F.expr("CAST(sum(CAST(smp AS BIGINT) * smp) DIV count(*) AS BIGINT)").alias(
                "energy"
            )
        )
        .select(
            "doc_id",
            F.col("w").alias("win_idx"),
            (F.lit(_M09_WIN) * F.col("w")).cast("bigint").alias("t"),
            "energy",
        )
    )
    doc_w = W.partitionBy("doc_id")
    loud = (
        win.withColumn("tot", F.sum("energy").over(doc_w))
        .withColumn("nw", F.count("*").over(doc_w))
        .filter(F.col("energy") * F.col("nw") > F.col("tot"))
        .drop("tot", "nw")
    )
    bright = F.expr(
        f"CAST(conv(substr(md5(concat(seed, CAST(j AS STRING))), 1, 2), 16, 10) AS INT)"
        f" >= {_M09_BRIGHT}"
    )
    kf = (
        docs.select(
            "doc_id",
            "seed",
            F.explode(
                F.expr(
                    f"sequence(0, CAST((length(hx) DIV 2 - 1) DIV {_M09_STEP} AS INT))"
                )
            ).alias("j"),
        )
        .filter(bright)
        .select(
            "doc_id",
            F.col("j").cast("int").alias("frame_idx"),
            (F.lit(_M09_STEP) * F.col("j")).cast("bigint").alias("frame_t"),
        )
    )

    # x12 tagged-window as-of: loud windows tag 0, keyframes tag 1; an
    # equal-time window sorts before the keyframe => inclusive <=
    tagged = loud.select(
        "doc_id",
        F.col("t").alias("at"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("int").alias("frame_idx"),
        F.lit(None).cast("bigint").alias("frame_t"),
        F.col("win_idx").alias("w_val"),
        F.col("energy").alias("e_val"),
    ).unionByName(
        kf.select(
            "doc_id",
            F.col("frame_t").alias("at"),
            F.lit(1).alias("tag"),
            "frame_idx",
            "frame_t",
            F.lit(None).cast("int").alias("w_val"),
            F.lit(None).cast("bigint").alias("e_val"),
        )
    )
    carry = (
        W.partitionBy("doc_id")
        .orderBy("at", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn("win_idx", F.last("w_val", ignorenulls=True).over(carry))
        .withColumn("win_energy", F.last("e_val", ignorenulls=True).over(carry))
        .filter(F.col("tag") == 1)
        .select("doc_id", "frame_idx", "frame_t", "win_idx", "win_energy")
        .orderBy("doc_id", "frame_idx")
    )
