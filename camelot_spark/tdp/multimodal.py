"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns; decode /
feature-extract / resize / frame-sample run as per-row functions on the
``arrow_seams.map_rows`` seam. ``decode_image`` routes by container
magic bytes: PIL when installed, else the pure-stdlib codecs —
``png_codec`` for PNG, ``gif_codec`` for GIF and ``jpeg_codec``
(baseline and progressive) for JPEG — so the REAL decode path executes
for every container even without an image library; lossless,
arithmetic-coded and hierarchical JPEG without PIL fail loudly.
Synthetic text payloads take the deterministic fake. The
Spark-side plumbing (schema, batch shape, partitioning, UDF
signatures) is identical on every path, and a production deployment
gets full codec coverage by installing PIL, with zero plan change.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .arrow_seams import map_rows

MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("header_byte", IntegerType(), False),
        StructField("fake_width", IntegerType(), False),
        StructField("fake_height", IntegerType(), False),
    ]
)


def attach_fake_payload(documents: DataFrame) -> DataFrame:
    """Media-payload source column: a real ``payload`` binary column is
    passed through untouched (user media tables); otherwise synthesize
    a deterministic payload from text (the synthetic corpus has no real
    media; utf-8 bytes stand in for image bytes)."""
    if "payload" in documents.columns:
        return documents.select(
            F.col("doc_id").cast("string").alias("doc_id"), "payload"
        )
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
    )


# real-codec seam: wired automatically when the deployment image
# carries PIL (cv2 would slot in the same way); the sandbox has
# neither, so the deterministic fake below carries the tests and the
# plan shape stays identical either way.
try:
    from PIL import Image as _PILImage
except ImportError:
    _PILImage = None

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"
_GIF_MAGIC = b"GIF8"


def _looks_like_image(payload: bytes) -> bool:
    return (payload[:8] == _PNG_MAGIC or payload[:3] == _JPEG_MAGIC
            or payload[:4] == _GIF_MAGIC)


def decode_image(payload: bytes) -> np.ndarray:
    """Real image bytes → (H, W) uint8 grayscale.

    Codec priority: PIL when installed (covers exotic PNGs and every
    JPEG process), else the pure-stdlib decoders — ``png_codec`` (zlib
    inflate + all five filter reconstructions) for PNG, ``gif_codec``
    (LZW, first frame) for GIF and ``jpeg_codec`` (baseline and
    progressive Huffman + IDCT) for JPEG — so the real decode path
    executes for every container even in codec-less environments.
    Raises ValueError for non-image payloads (the synthetic corpus —
    callers route those to the deterministic fake) and
    NotImplementedError for lossless, arithmetic-coded or hierarchical
    JPEG (or 16-bit quantization tables) without PIL.
    """
    if not _looks_like_image(payload):
        raise ValueError("payload is not a PNG/GIF/JPEG container")
    if _PILImage is not None:
        import io

        return np.asarray(_PILImage.open(io.BytesIO(payload)).convert("L"), dtype=np.uint8)
    if payload[:8] == _PNG_MAGIC:
        from .png_codec import decode_png

        return decode_png(payload)
    if payload[:4] == _GIF_MAGIC:
        from .gif_codec import decode_gif

        return decode_gif(payload)[0]  # first frame, like PIL's convert
    from .jpeg_codec import decode_jpeg

    img = decode_jpeg(payload)
    if img.ndim == 3:  # same integer ITU-R 601 luma as png_codec
        r, g, b = (img[:, :, c].astype(np.int64) for c in range(3))
        img = ((299 * r + 587 * g + 114 * b + 500) // 1000).astype(np.uint8)
    return img


def _fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: header byte + derived WxH."""
    n = len(payload)
    header = payload[0] if n else 0
    return header, (n % 640) + 1, ((n * 7) % 480) + 1


def _decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Route: real decode for real image containers (when a codec is
    installed), deterministic fake for synthetic payloads — the kernel
    body swaps without touching the plan."""
    if _looks_like_image(payload):
        img = decode_image(payload)
        header = int(img[0, 0]) if img.size else 0
        return header, int(img.shape[1]), int(img.shape[0])
    return _fake_decode_meta(payload)


def _decode_pixels(payload: bytes) -> np.ndarray:
    """Flat uint8 pixel source for the resize gather: the real decoded
    raster (row-major) when a codec is available, payload bytes as a
    1×N strip otherwise."""
    if _looks_like_image(payload):
        return decode_image(payload).reshape(-1)
    src = np.frombuffer(payload, dtype=np.uint8)
    return src if src.size else np.zeros(1, dtype=np.uint8)


def media_metadata(documents: DataFrame) -> DataFrame:
    """Binary payload → typed metadata, one row per payload — the
    decode/feature-extract plan shape for real media columns."""
    return map_rows(
        attach_fake_payload(documents),
        lambda doc_id, payload: [(doc_id, len(payload), *_decode_meta(payload))],
        MEDIA_META_SCHEMA)


MEDIA_META_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(ord(text[1:1]) AS INTEGER) AS header_byte,
       CAST((octet_length(encode(text)) % 640) + 1 AS INTEGER) AS fake_width,
       CAST(((octet_length(encode(text)) * 7) % 480) + 1 AS INTEGER) AS fake_height
FROM documents
"""


# ---------------------------------------------------------------------------
# resize / frame-sample / feature-extract plumbing
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("pixels", BinaryType(), False),
        StructField("pixels_sum", LongType(), False),
        StructField("pixels_poly", LongType(), False),
    ]
)

_POLY_M = 1_000_000_007

# One value per setting, mirrored by the twins. An operator reads its
# values on the driver and closes over them for the Python worker.
_RESIZE_W, _RESIZE_H, _HIST_DIM = 32, 24, 8
_FRAME_BYTES, _EVERY_N, _AVI_EVERY_N = 64, 4, 3
_SAMPLE_RATE, _FRAME_LEN = 8000, 400  # 50 ms frames at 8 kHz


def resize_media(documents: DataFrame) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode, Arrow-batched.

    Decode is the deterministic fake (bytes as a 1×N grayscale strip);
    the resize itself is real vectorized numpy (stride-index gather),
    which is exactly what a PIL-backed version would feed it.

    ``pixels_sum``/``pixels_poly`` are per-image checksums (byte sum and
    the left-fold polynomial hash a*31+b mod 1e9+7 over the gathered
    bytes) so a DuckDB oracle can verify the gather exactly without
    binary-column support.
    """
    width, height = _RESIZE_W, _RESIZE_H
    n_px = width * height
    # 31^(n-1-i) mod M per position: the vectorized form of the fold
    pows = np.empty(n_px, dtype=np.int64)
    p = 1
    for k in range(n_px - 1, -1, -1):
        pows[k] = p
        p = (p * 31) % _POLY_M

    def resize(doc_id, payload):
        # decode seam: real raster when a codec is installed, 1×N byte
        # strip otherwise; either way the resample is the same
        # nearest-neighbor index gather
        src = _decode_pixels(payload)
        flat = src[(np.arange(n_px) * src.size) // n_px].astype(np.int64)
        return [(doc_id, width, height,
                 flat.astype(np.uint8).reshape(height, width).tobytes(),
                 int(flat.sum()), int((flat * pows % _POLY_M).sum() % _POLY_M))]

    return map_rows(attach_fake_payload(documents), resize, RESIZED_SCHEMA)


MEDIA_RESIZE_SQL = """
WITH g AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, length(text) AS n
  FROM documents),
px AS (
  SELECT doc_id,
         list_transform(range(0, 32 * 24),
           k -> CAST(ord(substr(text, CAST((k * n) // (32 * 24) AS INTEGER) + 1, 1)) AS BIGINT)) AS pix
  FROM g)
SELECT doc_id, CAST(32 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
       CAST(list_sum(pix) AS BIGINT) AS pixels_sum,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), pix),
                        (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS pixels_poly
FROM px
"""


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ]
)


def frame_sample(documents: DataFrame) -> DataFrame:
    """Video-style frame sampling: keep every Nth frame, one input row
    fanning out to many output rows. REAL multi-frame containers
    decode for real — GIF magic through ``gif_codec``, AVI (RIFF)
    MJPEG through ``avi_codec`` (each frame an independent JPEG) —
    and emit their actual frames' raw grayscale bytes; synthetic
    payloads keep the deterministic fixed-size-chunk route — same
    schema and plan either way."""
    from .avi_codec import AVI_MAGIC, sample_video_frames
    from .gif_codec import GIF_MAGIC, decode_gif

    frame_bytes, every_n = _FRAME_BYTES, _EVERY_N

    def sample(doc_id, payload):
        head = payload[:4]
        if head == GIF_MAGIC or (head == AVI_MAGIC and payload[8:12] == b"AVI "):
            try:
                if head == GIF_MAGIC:
                    # GIF frames are deltas — sampling still needs the
                    # sequential composite
                    frames = list(enumerate(decode_gif(payload)))[::every_n]
                else:
                    # AVI: idx1-seek sampling — skipped frames are never
                    # read or JPEG-decoded
                    frames = sample_video_frames(payload, every_n)
                return [(doc_id, i, frame.tobytes()) for i, frame in frames]
            except (NotImplementedError, ValueError, IndexError, struct.error):
                # decode-best-effort, matching the image path: an
                # unsupported OR malformed flavor (non-MJPEG AVI,
                # truncated container — struct/index errors from header
                # parsing) degrades this ROW to the fixed-size-chunk
                # route instead of failing the whole task
                pass
        n_frames = len(payload) // frame_bytes
        return [(doc_id, i, payload[i * frame_bytes:(i + 1) * frame_bytes])
                for i in range(0, n_frames, every_n)]

    return map_rows(attach_fake_payload(documents), sample, FRAME_SCHEMA)


def media_features_hist(documents: DataFrame) -> DataFrame:
    """Byte-histogram features per payload as exploded (doc_id, bucket,
    cnt) rows — the embed step that feeds the similarity operators;
    pure JVM expressions, no Python.

    Restructured r7 (guide §4.1): the per-row form ran dim×|chars|
    INTERPRETED filter-lambda evals per document (~80M at sf0.1,
    measured 3.1 s); this shape explodes each character's bucket to a
    codegen row and partial-aggregates map-side, so the shuffle carries
    at most ``_HIST_DIM`` short rows per doc — the same explode+partial-agg
    restructure that fixed the r5 minhash regression. The doc × bucket
    grid join restores the zero-count rows, and a NULL text yields the
    same ``_HIST_DIM`` NULL-count rows the old size(filter(NULL)) produced.
    ``doc_id`` is the table's primary key (package-wide contract), so
    the per-key aggregate equals the old per-row counting."""
    chars = F.split(F.encode(F.col("text"), "utf-8").cast("string"), "")
    base = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), chars.alias("cs"))
    counts = (
        base.select("doc_id", F.explode("cs").alias("c"))
        .select("doc_id", (F.ascii("c") % _HIST_DIM).cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    grid = base.select(
        "doc_id", F.col("cs").isNotNull().alias("has"),
        F.explode(F.sequence(F.lit(0), F.lit(_HIST_DIM - 1)).cast("array<int>"))
        .alias("bucket"))
    return grid.join(counts, ["doc_id", "bucket"], "left").select(
        "doc_id", "bucket",
        F.when(F.col("has"), F.coalesce("n", F.lit(0)))
        .cast("bigint").alias("cnt"),
    )


MEDIA_FEATURES_SQL = """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_transform(string_split(text, ''), ch -> ord(ch) % 8) AS bs
  FROM documents)
SELECT doc_id,
       CAST(u.k AS INTEGER) AS bucket,
       CAST(len(list_filter(bs, x -> x = u.k)) AS BIGINT) AS cnt
FROM c, lateral unnest(range(0, 8)) u(k)
"""


FRAME_COUNTS_SQL = """
WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(FLOOR(octet_length(encode(text)) / 64) AS BIGINT) AS n_total
  FROM documents)
SELECT doc_id, CAST(FLOOR((n_total + 3) / 4) AS BIGINT) AS n_frames
FROM f WHERE n_total >= 1
"""


# ---------------------------------------------------------------------------
# audio: WAV/PCM decode + per-clip stats (real codec, pure stdlib)
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("peak_abs", LongType(), False),
        StructField("energy", LongType(), False),
    ]
)


def _payload_to_wav(payload, sample_rate: int) -> bytes:
    """The shared audio decode seam: a RIFF/WAVE payload passes
    through as-is; any other payload synthesizes deterministic PCM
    ((byte-97)*256, clipped to int16) and STILL round-trips through
    encode_wav — one definition of the cross-engine contract the
    audio oracles mirror."""
    from .wav_codec import WAV_MAGIC, encode_wav

    if payload[:4] == WAV_MAGIC:
        return bytes(payload)
    pcm = (np.frombuffer(payload, dtype=np.uint8).astype(np.int32) - 97) * 256
    pcm = np.clip(pcm, -32768, 32767)  # valid int16 PCM
    return encode_wav(pcm.astype("<i2"), sample_rate=sample_rate)


def audio_metadata(documents: DataFrame) -> DataFrame:
    """Audio stats per payload: (sample_rate, n_samples, duration_ms,
    peak_abs, energy=Σ sample²) — the audio-modality decode/feature
    plan shape, Arrow-batched.

    Routing mirrors images: a RIFF/WAVE payload decodes as-is
    (``wav_codec``, pure stdlib — the REAL path); any other payload is
    deterministically synthesized into PCM ((byte−97)·256 per byte)
    and STILL round-trips through encode_wav → decode_wav, so the
    codec executes on every row and the DuckDB oracle verifies the
    whole encode→decode→stats loop from the text bytes."""
    from .wav_codec import decode_wav

    sample_rate = _SAMPLE_RATE

    def stats(doc_id, payload):
        sr, _, s = decode_wav(_payload_to_wav(payload, sample_rate))
        s64 = s.astype(np.int64)
        return [(int(doc_id), sr, int(s.size),
                 int(s.size * 1000 // sr) if sr else 0,
                 int(np.abs(s64).max()) if s.size else 0,
                 int((s64 * s64).sum()))]

    return map_rows(attach_fake_payload(documents), stats, AUDIO_META_SCHEMA)


# the SQL mirror of _payload_to_wav's synthetic branch — shared by
# both audio oracles so the cross-engine contract has one definition
_AUDIO_PCM_CTE = """
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_transform(string_split(text, ''),
                        c -> LEAST(GREATEST((CAST(ord(c) AS BIGINT) - 97) * 256,
                                            -32768), 32767)) AS pcm
  FROM documents)"""

AUDIO_META_SQL = _AUDIO_PCM_CTE + """
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(len(pcm) AS BIGINT) AS n_samples,
       CAST(len(pcm) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(COALESCE(list_max(list_transform(pcm, x -> abs(x))), 0) AS BIGINT) AS peak_abs,
       CAST(COALESCE(list_sum(list_transform(pcm, x -> x * x)), 0) AS BIGINT) AS energy
FROM s
"""


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", LongType()),
    StructField("frame_energy", LongType()),
    StructField("zero_crossings", LongType()),
])


def audio_features(documents: DataFrame) -> DataFrame:
    """Framed audio featurization — the classic windowed-DSP plan shape
    (50 ms frames at 8 kHz): per full frame of ``_FRAME_LEN`` samples,
    the energy (Σ sample², int64) and the
    zero-crossing count (sign products < 0) — the features VAD /
    speech-music discrimination pipelines start from, kept integer so
    the DuckDB twin hash-matches.

    Same decode seam as ``audio_metadata``: real RIFF payloads decode
    as-is; synthetic payloads round-trip encode→decode through the
    codec. Per-row framing is a numpy reshape inside the Arrow batch;
    trailing partial frames are dropped (both engines)."""
    from .wav_codec import decode_wav

    frame_len, sample_rate = _FRAME_LEN, _SAMPLE_RATE

    def frames(doc_id, payload):
        _, _, s = decode_wav(_payload_to_wav(payload, sample_rate))
        n_frames = s.size // frame_len
        fr = s[:n_frames * frame_len].astype(np.int64).reshape(n_frames, frame_len)
        energy = (fr * fr).sum(axis=1).tolist()
        zc = ((fr[:, :-1] * fr[:, 1:]) < 0).sum(axis=1).tolist()
        return [(int(doc_id), k, energy[k], zc[k]) for k in range(n_frames)]

    return map_rows(attach_fake_payload(documents), frames, AUDIO_FEATURES_SCHEMA)


AUDIO_FEATURES_SQL = _AUDIO_PCM_CTE + """,
frames AS (
  SELECT doc_id, CAST(k.k AS BIGINT) AS frame_idx,
         pcm[CAST(k.k * 400 + 1 AS INTEGER):CAST(k.k * 400 + 400 AS INTEGER)] AS fr
  FROM s, LATERAL unnest(range(0, len(pcm) // 400)) AS k(k))
SELECT doc_id, frame_idx,
       CAST(COALESCE(list_sum(list_transform(fr, x -> x * x)), 0) AS BIGINT)
         AS frame_energy,
       CAST(COALESCE(list_sum(list_transform(range(1, len(fr)),
              i -> CASE WHEN fr[CAST(i AS INTEGER)] * fr[CAST(i + 1 AS INTEGER)] < 0
                        THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
FROM frames
"""


AVI_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_channels", IntegerType(), False),
        StructField("n_samples", LongType(), False),
        StructField("audio_sum", LongType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("n_sampled", IntegerType(), False),
        StructField("last_frame_idx", IntegerType(), False),
    ]
)


def avi_audio_roundtrip(documents: DataFrame) -> DataFrame:
    """End-to-end multimodal-container exercise, per doc: build a REAL
    two-stream AVI (MJPEG video + interleaved 16-bit PCM audio + idx1
    index) whose audio is the corpus's deterministic text→PCM contract
    ((ord(c)-97)*256 clipped — the same mapping the audio_* oracles
    mirror), then demux it back: idx1-seek every-Nth frame sampling
    (skipped frames never decoded) and audio extraction routed through
    ``wav_codec``. Because mux→demux is lossless on the PCM stream,
    DuckDB predicts the extracted sample count/checksum straight from
    the text — the cross-engine twin that pins the whole container
    path (mux, index, seek, stream routing, WAV re-wrap).

    Video stream: 2 + (char_len % 3) constant-gray 8x8 frames, so the
    index and the sampling arithmetic are data-dependent."""
    from .avi_codec import encode_avi, extract_audio, sample_video_frames

    every_n = _AVI_EVERY_N

    def roundtrip(doc_id, text):
        pcm = np.clip(
            (np.array([ord(c) for c in text], dtype=np.int64) - 97) * 256,
            -32768, 32767).astype("<i2")
        n_frames = 2 + len(text) % 3
        frames = [np.full((8, 8), len(text) % 256, dtype=np.uint8)] * n_frames
        avi = encode_avi(frames, audio=pcm)
        sampled = sample_video_frames(avi, every_n=every_n)
        sr, nch, samples = extract_audio(avi)
        return [(int(doc_id), sr, nch, len(samples), int(samples.sum()),
                 n_frames, len(sampled), sampled[-1][0])]

    return map_rows(
        documents.select("doc_id", "text").repartition(
            documents.sparkSession.sparkContext.defaultParallelism),
        roundtrip, AVI_AUDIO_SCHEMA)


AVI_AUDIO_SQL = """
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CASE WHEN text = '' THEN CAST([] AS BIGINT[]) ELSE
           list_transform(string_split(text, ''),
                          c -> LEAST(GREATEST((CAST(ord(c) AS BIGINT) - 97) * 256,
                                              -32768), 32767))
         END AS pcm
  FROM documents WHERE doc_id % 8 = 0)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       n_chars AS n_samples,
       CAST(COALESCE(list_sum(pcm), 0) AS BIGINT) AS audio_sum,
       CAST(2 + n_chars % 3 AS INTEGER) AS n_frames,
       CAST((2 + n_chars % 3 + 2) // 3 AS INTEGER) AS n_sampled,
       CAST((((2 + n_chars % 3 + 2) // 3) - 1) * 3 AS INTEGER) AS last_frame_idx
FROM s
"""
