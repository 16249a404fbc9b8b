"""Multimodal (image / audio / video) columns: opaque ``binary``
payloads + typed metadata, with decode / feature-extract / frame-sample
as Arrow-batched ``mapInPandas`` operators.

Beyond-reference capability (the reference is clickstream-only); part
of the training-data-pipeline surface alongside operators/dedup.py and
operators/text.py.

Two tiers of decode honesty:

- **REAL decoders (pure numpy, this module, r5)** for byte-level
  -trivial uncompressed containers: NetPBM P5/P6 images
  (``decode_ppm_meta`` — header parse + pixel stats, ``resize_ppm`` —
  true nearest-neighbor resample + re-encode) and PCM16 WAV audio
  (``decode_wav_features`` — RIFF chunk walk, real duration + RMS
  energy windows). Malformed payloads quarantine into a
  ``decode_error`` column instead of failing the task. The
  ``ppm_decode`` driver query value-oracles the image path end-to-end.
- **REAL compressed decode for PNG (r7)**: stdlib zlib inflate + the
  five spec scanline filters (``decode_png_meta``; ``png_decode``
  driver query value-oracles it with all filter types cycling).
- **REAL baseline JPEG decode (r7)**: T.81 marker walk + canonical
  Huffman entropy decode (DC prediction, ZRL/EOB, byte unstuffing) +
  dequant/dezigzag/matrix IDCT (``decode_jpeg_meta``; the
  ``jpeg_decode`` driver query value-oracles the whole pipeline as
  integer arithmetic); r8 adds chroma-subsampled (4:2:0 / 4:2:2)
  color via the general interleaved-MCU grid + JFIF nearest-neighbor
  upsampling, restart intervals, AND full PROGRESSIVE (SOF2)
  decode — multi-scan spectral selection / successive
  approximation with EOB-run and G.1.2.3 refinement protocols,
  pinned pixel-identical to the baseline decode of the same
  coefficients; 12-bit extended-sequential (SOF1) and 12-bit
  progressive decode as of r9 (level shift 2048, uint16 raster).
  Gates left: arithmetic coding, lossless/hierarchical SOFs.
- **REAL FLAC decode (r7)**: fixed-predictor subset — frame
  sync + CRC-8/16 verification, UTF-8 frame numbers, Rice residual
  decode (incl. escape partitions), predictor reconstruction
  (``decode_flac_features``; lossless, so the ``flac_decode`` driver
  query's oracle is exact); r8 adds STEREO (all four channel
  assignments incl. mid/side reconstruction, side subframes at
  bps+1) and REAL LPC subframes (quantized predictor + floor
  shift, r8) + wasted-bits subframes (width-narrowed coding with
  the shift-back reconstruction, r8) + up to 8 INDEPENDENT
  channels + 8/12/16/20/24-bit depths (r8; decorrelation modes
  are 2-channel by spec).
- **Digest stubs** for the remaining compressed formats (the MP4
  CONTAINER demuxes for real in ``operators/mp4.py`` as of r10 —
  box walk, sample tables, chained JPEG/.mp3 sample decode — but
  AAC/H.264 SAMPLE payloads need libav, which is NOT in this
  container; the Ogg/Vorbis BYTE path decodes natively in
  ``operators/vorbis.py`` as of r9 and the MP3 integer byte path in
  ``operators/mp3.py`` as of r10): metadata derives
  deterministically from the payload's sha256.
  Everything Spark-side — binary column handling, Arrow batch
  transfer, schemas, partition-preserving plumbing, the 1→N frame
  fan-out shape — is real and tested; a codec drops into the same
  ``mapInPandas`` body behind ``use_real_decoder=True`` (raises
  ``NotImplementedError`` until the library exists).

Scale notes: ``mapInPandas`` streams Arrow record batches — payloads
never materialize on the driver and per-executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Binary columns pass
through Parquet scans with predicate pushdown on the *metadata*
columns, so "select frames of videos longer than X" prunes before any
decode work.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .bitio import MsbBits, crc_msb, crc_table_msb
from .payload_memo import decode_map

IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("payload_sha256", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_payload", BinaryType()),
        StructField("frame_sha256", StringType()),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column (here: the UTF-8
    bytes of a text column — the stand-in for real image/audio bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def decode_image_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    use_real_decoder: bool = False,
) -> DataFrame:
    """Decode image payloads → (n_bytes, sha256, width, height).

    Stub decode: width/height are the first two bytes of the sha256
    digest — deterministic, engine-portable (the driver oracle
    recomputes them in DuckDB with ``sha256``/hex-cast).
    """
    if use_real_decoder:
        try:
            from PIL import Image  # noqa: F401
        except ImportError as e:  # pragma: no cover - lib absent here
            raise NotImplementedError(
                "real image decode needs PIL, which is not installed; "
                "use the deterministic stub (use_real_decoder=False)"
            ) from e

    def _parse(payload) -> dict:
        h = hashlib.sha256(bytes(payload)).hexdigest()
        return {"n_bytes": len(payload), "payload_sha256": h,
                "width": int(h[0:2], 16), "height": int(h[2:4], 16)}

    return decode_map(df, _parse, IMAGE_META_SCHEMA, (), id_col, payload_col)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 16,
    max_frames: int = 4,
) -> DataFrame:
    """Video frame sampling: 1→N fan-out per payload via mapInPandas.

    Stub sampling: frame i is the i-th ``frame_bytes`` slice of the
    payload, up to ``min(max_frames, ceil(len/frame_bytes))`` frames —
    the real implementation would seek keyframes with a codec. The
    output batch shape (multiple rows per input row, binary frame
    column + digest) is the real contract.
    """

    def _parse(payload) -> list[dict]:
        raw = bytes(payload)
        n = min(max_frames, max(1, -(-len(raw) // frame_bytes)))
        chunks = [raw[i * frame_bytes : (i + 1) * frame_bytes]
                  for i in range(n)]
        return [{"frame_idx": i, "frame_payload": chunk,
                 "frame_sha256": hashlib.sha256(chunk).hexdigest()}
                for i, chunk in enumerate(chunks)]

    return decode_map(df, _parse, FRAME_SCHEMA, (), id_col, payload_col)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("payload_sha256", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_image(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    use_real_decoder: bool = False,
) -> DataFrame:
    """Image resize: binary → binary map at a fixed target geometry.

    Stub resize: the output payload is the input repeated/truncated to
    ``target_w * target_h`` bytes (1 byte/pixel stand-in) — a real
    implementation decodes, resamples, and re-encodes in the same
    ``mapInPandas`` body. Deterministic, so downstream exact-dedup over
    resized payloads is testable.
    """
    if use_real_decoder:
        try:
            from PIL import Image  # noqa: F401
        except ImportError as e:  # pragma: no cover - lib absent here
            raise NotImplementedError(
                "real image resize needs PIL, which is not installed; "
                "use the deterministic stub (use_real_decoder=False)"
            ) from e
    size = target_w * target_h

    def _parse(payload) -> dict:
        raw = bytes(payload) or b"\x00"
        out = (raw * (size // len(raw) + 1))[:size]
        return {"payload": out,
                "payload_sha256": hashlib.sha256(out).hexdigest(),
                "width": target_w, "height": target_h}

    return decode_map(df, _parse, RESIZED_SCHEMA, (), id_col, payload_col)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_windows", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window_bytes: int = 64,
    sample_rate_hz: int = 16_000,
    use_real_decoder: bool = False,
) -> DataFrame:
    """Audio feature extraction: payload → fixed-rate windowed feature
    vector (``array<double>``) + duration metadata.

    Stub features: per-window mean byte value (an "energy envelope") —
    a real implementation computes MFCC/log-mel per window with a DSP
    library in the same body. The Spark-side contract is the real
    one: bounded Arrow batches, one array column out, duration derived
    from payload length at ``sample_rate_hz`` (1 byte/sample stand-in).
    The feature column feeds the existing embedding operators
    (knn/LSH dedup) unchanged.
    """
    if use_real_decoder:
        try:
            import soundfile  # noqa: F401
        except ImportError as e:  # pragma: no cover - lib absent here
            raise NotImplementedError(
                "real audio decode needs soundfile/libsndfile, which is "
                "not installed; use the stub (use_real_decoder=False)"
            ) from e

    def _parse(payload) -> dict:
        raw = bytes(payload)
        wins = [raw[i : i + window_bytes]
                for i in range(0, len(raw), window_bytes)] or [b""]
        return {"n_windows": len(wins),
                "duration_ms": len(raw) * 1000 // sample_rate_hz,
                "features": [sum(w) / len(w) if w else 0.0 for w in wins]}

    return decode_map(df, _parse, AUDIO_FEATURE_SCHEMA, (),
                      id_col, payload_col)


def detect_shot_boundaries(
    frames: DataFrame,
    threshold: int = 16384,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shot-boundary detection over sampled frames.

    The classic video-segmentation pass: a frame starts a new shot when
    its feature distance to the previous frame exceeds a threshold.
    Feature here is the stub frame "energy" — the first 16 bits of the
    frame digest (deterministic, oracle-reproducible); a real codec
    build would swap in a histogram/SSIM distance, the windowed plan is
    identical. Native Catalyst after the Arrow fan-out: one window over
    (doc, frame_idx) — frames of one document are already co-located.
    """
    from pyspark.sql import Window

    energy = F.conv(
        F.substring("frame_sha256", 1, 4), 16, 10
    ).cast("long")
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    d = frames.select(
        F.col(id_col), "frame_idx", energy.alias("energy")
    ).withColumn("prev_e", F.lag("energy").over(w))
    d = d.withColumn(
        "is_boundary",
        F.col("prev_e").isNull()
        | (F.abs(F.col("energy") - F.col("prev_e")) > threshold),
    )
    wdoc = Window.partitionBy(id_col)
    return d.select(
        id_col,
        "frame_idx",
        "energy",
        "is_boundary",
        F.sum(F.col("is_boundary").cast("long")).over(wdoc)
         .alias("n_shots"),
    )


# ---------------------------------------------------------------------------
# REAL decoders for uncompressed container formats — pure numpy, no
# external codec library. PPM/PGM (NetPBM) images and WAV audio (PCM
# 8/16/24/32-bit + G.711 mu-law/A-law as of r9) are byte-level
# formats whose decode is exact arithmetic, so these paths are
# genuinely real (header parse + pixel/sample math), not digest
# stubs: the stub paths above remain only for MP4 codec payloads
# (libav-gated; the container itself demuxes in operators/mp4.py);
# PNG/GIF/JPEG/FLAC and the Vorbis byte path decode for real below
# and in operators/vorbis.py.
# ---------------------------------------------------------------------------

import struct

import numpy as np


def _parse_ppm(raw: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """Parse a binary NetPBM payload (P6 RGB or P5 gray): returns
    (width, height, channels, uint8 array of shape h*w*c). Raises
    ValueError on anything that is not a well-formed P5/P6."""
    if not raw.startswith((b"P6", b"P5")):
        raise ValueError("not a binary NetPBM (P5/P6) payload")
    channels = 3 if raw[:2] == b"P6" else 1
    # header = magic, width, height, maxval as whitespace-separated
    # ASCII tokens ('#' comments allowed), then ONE whitespace byte
    # before the raster
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(raw) and raw[pos : pos + 1].isspace():
            pos += 1
        if raw[pos : pos + 1] == b"#":
            while pos < len(raw) and raw[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(raw) and not raw[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(raw[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if w <= 0 or h <= 0:
        raise ValueError(f"non-positive dimensions {w}x{h}")
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    n = w * h * channels
    raster = raw[pos : pos + n]
    if len(raster) != n:
        raise ValueError(
            f"truncated raster: need {n} bytes, have {len(raster)}"
        )
    return w, h, channels, np.frombuffer(raster, dtype=np.uint8)


def encode_ppm(pixels: "np.ndarray", w: int, h: int,
               channels: int) -> bytes:
    """Re-encode a uint8 pixel array as binary NetPBM (P6/P5)."""
    magic = b"P6" if channels == 3 else b"P5"
    header = magic + f"\n{w} {h}\n255\n".encode("ascii")
    return header + pixels.astype(np.uint8).tobytes()


PPM_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_px", DoubleType()),
        StructField("payload_sha256", StringType()),
        StructField("decode_error", StringType()),
    ]
)


def _raster_meta(parse_raster):
    """Row parser for the digest-carrying raster decoders (NetPBM, PNG,
    JPEG): dimensions, the exact integer pixel sum and its mean (one
    double division, round 6). The payload digest is reported for
    quarantined payloads too, so the parser quarantines itself."""

    def _parse(payload) -> dict:
        raw = bytes(payload)
        sha = hashlib.sha256(raw).hexdigest()
        try:
            w, h, c, px = parse_raster(raw)
        except ValueError as e:
            return {"payload_sha256": sha, "decode_error": str(e)}
        ps = int(px.sum(dtype=np.int64))
        return {"width": w, "height": h, "channels": c, "y_sum": ps,
                "mean_px": round(ps / px.size, 6), "payload_sha256": sha}

    return _parse


def decode_ppm_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL image decode for NetPBM payloads: width/height/channels
    from the parsed header, mean pixel value from the raster (exact
    integer sum, one double division, round(6)). Malformed payloads
    land in ``decode_error`` instead of failing the batch — the
    quarantine contract a 100 TB ingest needs (one corrupt file must
    not kill a 10k-file task)."""
    return decode_map(df, _raster_meta(_parse_ppm), PPM_META_SCHEMA, (),
                      id_col, payload_col)


def resize_ppm(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL image resize for NetPBM payloads: decode → nearest-neighbor
    resample (integer source-index grid ``floor(i * src / dst)`` — the
    deterministic resampling any engine reproduces) → re-encode P6/P5.
    Same output contract as :func:`resize_image`; malformed payloads
    are dropped (decode_ppm_meta reports them)."""
    if target_w < 1 or target_h < 1:
        raise ValueError("target geometry must be >= 1x1")

    def _parse(payload) -> dict:
        w, h, c, px = _parse_ppm(bytes(payload))
        img = px.reshape(h, w, c)
        yi = (np.arange(target_h) * h) // target_h
        xi = (np.arange(target_w) * w) // target_w
        enc = encode_ppm(img[yi][:, xi].reshape(-1), target_w, target_h, c)
        return {"payload": enc,
                "payload_sha256": hashlib.sha256(enc).hexdigest(),
                "width": target_w, "height": target_h}

    return decode_map(df, _parse, RESIZED_SCHEMA, (ValueError,),
                      id_col, payload_col)


WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_windows", IntegerType()),
        StructField("rms_windows", ArrayType(DoubleType())),
        # exact per-window sum of squared samples: the integer twin
        # of rms_windows — driver oracles read THIS (a rounded-RMS
        # double can tie-break differently across engines at .6f
        # precision on 24-bit magnitudes)
        StructField("energy_windows", ArrayType(LongType())),
        StructField("decode_error", StringType()),
    ]
)


def _mulaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 mu-law byte -> 16-bit linear, the exact closed-form
    expansion (ITU-T G.711; bias 0x84): complement the code, shift
    the mantissa into place under the bias, scale by the segment,
    remove the bias with the sign."""
    u = (~codes.astype(np.int64)) & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _alaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 A-law byte -> 16-bit linear, the exact closed-form
    expansion (ITU-T G.711; even-bit inversion 0x55): segment 0 is
    linear, higher segments shift the 0x108-offset mantissa."""
    a = codes.astype(np.int64) ^ 0x55
    seg = (a & 0x70) >> 4
    mant = (a & 0x0F) << 4
    t = np.where(
        seg == 0, mant + 8,
        (mant + 0x108) << np.maximum(seg - 1, 0),
    )
    return np.where(a & 0x80, t, -t)


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
    449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
    1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
    22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_nibbles(
    nibbles, pred: int, index: int
) -> tuple[list[int], int, int]:
    """The IMA ADPCM reference decode step (validated bit-exact
    against CPython's audioop for the full nibble space —
    tests/test_multimodal.py): diff = step/8 + bit-gated step/4,
    step/2, step; sign bit 8; predictor clamped to int16, index
    clamped to 0..88."""
    out = []
    steps, adj = _IMA_STEPS, _IMA_INDEX_ADJ
    for nb in nibbles:
        step = steps[index]
        diff = step >> 3
        if nb & 1:
            diff += step >> 2
        if nb & 2:
            diff += step >> 1
        if nb & 4:
            diff += step
        pred = pred - diff if nb & 8 else pred + diff
        pred = -32768 if pred < -32768 else (32767 if pred > 32767
                                             else pred)
        index += adj[nb & 7]
        index = 0 if index < 0 else (88 if index > 88 else index)
        out.append(pred)
    return out, pred, index


def _parse_wav(raw: bytes) -> tuple[int, "np.ndarray"]:
    """Parse a RIFF/WAVE container with mono samples: returns
    (sample_rate_hz, int64 sample array). Walks the chunk list
    properly (fmt / data in any order, unknown chunks skipped).

    Formats decoded for real (r9): PCM (fmt 1) at 8 (unsigned,
    offset 128), 16, 24 (packed 3-byte LE) and 32 bits, and the
    G.711 companded telephony formats mu-law (fmt 7) and A-law
    (fmt 6) via the exact closed-form expansions, and mono IMA/DVI
    ADPCM (fmt 0x11: per-block predictor/index headers + the
    reference nibble recursion, validated against audioop) — all
    integer, so decode oracles replay them exactly; IEEE float32
    (fmt 3) decodes to Q15 integers by an exact scale, and
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) unwraps to its SubFormat tag.
    Honest gates (named errors): MS ADPCM (fmt 2) and multi-channel
    streams."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    fmt = bits = None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack_from("<I", raw, pos + 4)
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(
                    f"truncated fmt chunk ({len(body)} bytes, need 16)"
                )
            fmt, n_ch, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if n_ch != 1:
                raise ValueError(f"only mono supported (ch={n_ch})")
            if fmt == 0xFFFE:
                # WAVE_FORMAT_EXTENSIBLE: the actual format is the
                # first uint16 of the SubFormat GUID in the extension
                # (the rest is the fixed ksmedia.h GUID tail)
                if len(body) < 26:
                    raise ValueError(
                        "extensible fmt chunk missing SubFormat GUID"
                    )
                (fmt,) = struct.unpack_from("<H", body, 24)
                if fmt == 0xFFFE:
                    raise ValueError("nested extensible format tag")
            if fmt == 1:
                if bits not in (8, 16, 24, 32):
                    raise ValueError(
                        f"PCM bit depth {bits} not supported "
                        "(8/16/24/32)"
                    )
            elif fmt in (6, 7):
                if bits != 8:
                    raise ValueError(
                        f"G.711 requires 8-bit codes, got {bits}"
                    )
            elif fmt == 3:  # IEEE float
                if bits != 32:
                    raise ValueError(
                        f"IEEE-float WAV requires 32-bit samples, "
                        f"got {bits}"
                    )
            elif fmt == 0x11:  # IMA/DVI ADPCM
                if bits != 4:
                    raise ValueError(
                        f"IMA ADPCM requires 4-bit samples, got {bits}"
                    )
                (block_align,) = struct.unpack_from("<H", body, 12)
                if block_align < 5:
                    raise ValueError(
                        f"IMA ADPCM block align {block_align} too small"
                    )
            else:
                raise ValueError(
                    f"WAV format tag {fmt} not supported "
                    "(PCM=1, float=3, A-law=6, mu-law=7, "
                    "IMA ADPCM=0x11)"
                )
            if rate <= 0:
                raise ValueError(f"invalid sample rate {rate}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if fmt == 1 and bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 2)], dtype="<i2"
        ).astype(np.int64)
    elif fmt == 1 and bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(
            np.int64
        ) - 128
    elif fmt == 1 and bits == 24:
        usable = len(data) - (len(data) % 3)
        b = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3)
        v = (
            b[:, 0].astype(np.int64)
            | (b[:, 1].astype(np.int64) << 8)
            | (b[:, 2].astype(np.int64) << 16)
        )
        samples = np.where(v >= 1 << 23, v - (1 << 24), v)
    elif fmt == 1 and bits == 32:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 4)], dtype="<i4"
        ).astype(np.int64)
    elif fmt == 3:
        # IEEE float32 in [-1, 1): decoded to Q15 integers by an
        # EXACT scale (x * 32768 with float64 rounding via rint);
        # payloads whose samples are multiples of 2**-15 — the usual
        # int16-provenance case — reconstruct losslessly
        f = np.frombuffer(
            data[: len(data) - (len(data) % 4)], dtype="<f4"
        ).astype(np.float64)
        if not np.isfinite(f).all():
            raise ValueError("non-finite float WAV sample")
        samples = np.rint(f * 32768.0).astype(np.int64)
    elif fmt == 7:
        samples = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif fmt == 6:
        samples = _alaw_expand(np.frombuffer(data, dtype=np.uint8))
    else:  # fmt == 0x11, IMA ADPCM (mono): per-block 4-byte header
        # (int16 predictor = first output sample, uint8 step index,
        # reserved), then two nibbles per byte, LOW nibble first
        # (the MS/IMA WAV layout; audioop packs high-first, which
        # the validation test accounts for)
        out: list[int] = []
        for at in range(0, len(data) - (len(data) % block_align),
                        block_align):
            blk = data[at:at + block_align]
            (pred,) = struct.unpack_from("<h", blk, 0)
            index = blk[2]
            if index > 88:
                raise ValueError(
                    f"IMA ADPCM step index {index} out of range"
                )
            out.append(pred)
            nibbles = []
            for b in blk[4:]:
                nibbles.append(b & 0x0F)
                nibbles.append(b >> 4)
            dec, _p, _i = _ima_decode_nibbles(nibbles, pred, index)
            out.extend(dec)
        samples = np.array(out, dtype=np.int64)
    return rate, samples


# historical name: the decoder began as a PCM16-only parser; callers
# and tests still reference it
_parse_wav_pcm16 = _parse_wav


def _audio_features(rate: int, n: int, samples, window_samples: int) -> dict:
    """Sample rate, duration and per-window RMS energy (BIGINT sum of
    squares → one sqrt per window, round 6) of decoded samples;
    ``w.size``, not ``len(w)``: multichannel windows RMS over every
    channel's samples (mono unchanged)."""
    wins, energies = [], []
    for i in range(0, n, window_samples):
        w = samples[i : i + window_samples].astype(np.int64)
        sq = int((w * w).sum())
        energies.append(sq)
        wins.append(round(float(np.sqrt(sq / w.size)), 6))
    return {"sample_rate_hz": rate, "n_samples": n,
            "duration_ms": n * 1000 // rate, "n_windows": len(wins),
            "rms_windows": wins, "energy_windows": energies}


def decode_wav_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window_samples: int = 256,
) -> DataFrame:
    """REAL audio decode for WAV payloads (``_parse_wav``: PCM
    8/16/24/32-bit plus G.711 mu-law/A-law telephony codes): sample
    rate and duration from the parsed container, per-window RMS
    energy from the decoded integer samples (BIGINT sum of squares →
    one sqrt per window, round(6)) — the energy envelope a
    speech-data curation pass filters on. Malformed payloads land in
    ``decode_error``; the feature array feeds the existing embedding
    operators unchanged."""

    def _parse(payload) -> dict:
        rate, samples = _parse_wav_pcm16(bytes(payload))
        return _audio_features(rate, len(samples), samples, window_samples)

    # struct.error covers unpack_from on payloads shorter than an
    # advertised chunk; the parser validates rate>0 so the duration
    # division cannot raise — the broad net keeps the documented "one
    # corrupt file never fails the batch" quarantine contract honest.
    return decode_map(df, _parse, WAV_FEATURE_SCHEMA,
                      (ValueError, struct.error), id_col, payload_col)


Y4M_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", DoubleType()),
        StructField("y_mean", DoubleType()),
        StructField("frame_sha256", StringType()),
    ]
)


def _parse_y4m(raw: bytes) -> tuple[int, int, int, int, int, list[bytes]]:
    """Parse a YUV4MPEG2 (y4m) uncompressed video container: returns
    (width, height, fps_num, fps_den, bytes_per_frame, frames).
    Supports the C444 (w*h*3) and C420 (w*h*3//2) colorspaces."""
    eol = raw.find(b"\x0a")
    if eol < 0 or not raw.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    fn, fd, cs = 25, 1, b"420"
    for tok in raw[9:eol].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            fn, fd = (int(x) for x in val.split(b":"))
        elif tag == b"C":
            cs = val
    if w is None or h is None:
        raise ValueError("missing W/H in y4m header")
    if w <= 0 or h <= 0:
        raise ValueError(f"non-positive dimensions W{w} H{h}")
    if fd <= 0 or fn <= 0:
        raise ValueError(f"invalid frame rate F{fn}:{fd}")
    if cs.startswith(b"444"):
        fsize = w * h * 3
    elif cs.startswith(b"420"):
        fsize = w * h * 3 // 2
    else:
        raise ValueError(f"unsupported colorspace C{cs.decode()}")
    frames, pos = [], eol + 1
    while pos < len(raw):
        nl = raw.find(b"\x0a", pos)
        if nl < 0 or not raw[pos:nl].startswith(b"FRAME"):
            raise ValueError(f"bad FRAME marker at byte {pos}")
        body = raw[nl + 1 : nl + 1 + fsize]
        if len(body) != fsize:
            raise ValueError(
                f"truncated frame {len(frames)}: need {fsize} bytes"
            )
        frames.append(body)
        pos = nl + 1 + fsize
    return w, h, fn, fd, fsize, frames


def sample_y4m_frames(
    df: DataFrame,
    every_k: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame sampling for YUV4MPEG2 payloads: parse the
    container, keep every ``every_k``-th frame (frame 0 always), and
    emit per-frame rows with the real Y-plane mean (exact integer sum,
    one division) and digest — the 1→N fan-out shape of
    :func:`sample_frames` with an actual decoder behind it. Malformed
    payloads are dropped (decode-audit via decode_ppm_meta's pattern
    belongs to the metadata pass, not the fan-out)."""
    if every_k < 1:
        raise ValueError("every_k must be >= 1")

    def _parse(payload) -> list[dict]:
        w, h, fn, fd, _fs, frames = _parse_y4m(bytes(payload))
        rows = []
        for i in range(0, len(frames), every_k):
            y = np.frombuffer(frames[i][: w * h], dtype=np.uint8)
            rows.append({
                "frame_idx": i, "width": w, "height": h,
                "n_frames": len(frames), "fps": round(fn / fd, 6),
                "y_mean": round(int(y.sum(dtype=np.int64)) / y.size, 6),
                "frame_sha256": hashlib.sha256(frames[i]).hexdigest()})
        return rows

    return decode_map(df, _parse, Y4M_FRAME_SCHEMA,
                      (ValueError, struct.error), id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL compressed-image decode: PNG. The container everyone assumed
# needed PIL actually needs only stdlib zlib + the five scanline
# filters from the PUBLIC PNG specification (RFC 2083 / W3C PNG) —
# so the "compressed formats stay gated" boundary moves: PNG decode
# is real; baseline JPEG followed later in r7 (below) and FLAC in
# r7-r9, MP3's integer byte path in operators/mp3.py in r10, and the
# MP4 container demux in operators/mp4.py in r10; only MP4 CODEC
# payloads (AAC/H.264) remain honestly libav-gated.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> channels


def _png_unfilter(ftype: int, row: "np.ndarray", prev: "np.ndarray",
                  bpp: int) -> "np.ndarray":
    """Reconstruct one scanline per the PNG filter spec. ``row`` is
    the filtered bytes (int16 workspace), ``prev`` the RECONSTRUCTED
    prior scanline, ``bpp`` bytes per pixel."""
    n = row.shape[0]
    out = np.empty(n, dtype=np.uint8)
    if ftype == 0:  # None
        out[:] = row
    elif ftype == 1:  # Sub
        for i in range(n):
            left = out[i - bpp] if i >= bpp else 0
            out[i] = (row[i] + left) & 0xFF
    elif ftype == 2:  # Up
        out[:] = (row + prev) & 0xFF
    elif ftype == 3:  # Average
        for i in range(n):
            left = int(out[i - bpp]) if i >= bpp else 0
            out[i] = (row[i] + ((left + int(prev[i])) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                pred = a
            elif pb <= pc:
                pred = b
            else:
                pred = c
            out[i] = (row[i] + pred) & 0xFF
    else:
        raise ValueError(f"invalid PNG filter type {ftype}")
    return out


# Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_scanline_pixels(
    rows: "np.ndarray", pw: int, c_raw: int, depth: int
) -> "np.ndarray":
    """Unfiltered scanline bytes (ph, stride) -> per-pixel sample
    values (ph, pw, c_raw) at the declared bit depth (16-bit is
    big-endian per spec; sub-byte depths pack MSB-first)."""
    ph = rows.shape[0]
    if depth == 8:
        return rows.reshape(ph, -1)[:, : pw * c_raw].reshape(
            ph, pw, c_raw
        )
    if depth == 16:
        flat = rows.reshape(ph, -1).astype(np.uint16)
        vals = (flat[:, 0::2] << 8) | flat[:, 1::2]
        return vals[:, : pw * c_raw].reshape(ph, pw, c_raw)
    # depth 1/2/4: MSB-first packed indices (palette path, c_raw 1)
    bits = np.unpackbits(rows, axis=1)
    per = bits.reshape(ph, -1, depth)
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = (per * weights).sum(axis=2)
    return vals[:, :pw].reshape(ph, pw, 1)


def _parse_png(raw: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """Parse a PNG: returns (width, height, channels, integer array
    of h*w*c). Decoded for real (r9 widened): 8-bit and 16-bit
    gray / gray+alpha / RGB / RGBA, palette images (colortype 3) at
    1/2/4/8-bit index depth via the PLTE chunk, and Adam7
    interlacing (all seven passes independently filtered and
    scattered onto the output grid). Honest gates (named errors):
    sub-byte grayscale, missing PLTE, nonstandard compression."""
    import zlib

    if not raw.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos:pos + 4])
        ctype = raw[pos + 4:pos + 8]
        body = raw[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not seen_iend or not idat:
        raise ValueError("missing IHDR/IDAT/IEND chunk")
    w, h, depth, colortype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if w <= 0 or h <= 0:
        raise ValueError(f"non-positive dimensions {w}x{h}")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if colortype == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(
                f"illegal palette bit depth {depth} (1/2/4/8)"
            )
        if plte is None or len(plte) % 3:
            raise ValueError("palette image missing valid PLTE chunk")
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        c_raw, c_out = 1, 3
    elif colortype in _PNG_CHANNELS:
        if depth not in (8, 16):
            raise ValueError(
                f"bit depth {depth} not supported for colortype "
                f"{colortype} (8/16)"
            )
        palette = None
        c_raw = c_out = _PNG_CHANNELS[colortype]
    else:
        raise ValueError(f"unsupported PNG colortype {colortype}")
    try:
        plain = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e

    bpp = max(1, c_raw * depth // 8)
    dtype = np.uint16 if depth == 16 else np.uint8
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    # total scanline byte need BEFORE any allocation: corrupted IHDR
    # dimensions (e.g. a flipped length byte making h ~4e9) must fail
    # here as a ValueError, not as a giant np.zeros MemoryError
    total_need = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            total_need += ph * ((pw * c_raw * depth + 7) // 8 + 1)
    if total_need != len(plain):
        raise ValueError(
            f"PNG scanline data is {len(plain)} bytes, "
            f"IHDR geometry needs {total_need}"
        )
    out = np.zeros((h, w, c_out), dtype=dtype)
    at = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * c_raw * depth + 7) // 8
        need = ph * (stride + 1)
        chunk = plain[at:at + need]
        if len(chunk) != need:
            raise ValueError(
                f"PNG scanline data ends early ({len(plain) - at} "
                f"bytes left, pass needs {need})"
            )
        at += need
        data = np.frombuffer(chunk, dtype=np.uint8).reshape(
            ph, stride + 1
        )
        recon = np.empty((ph, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        work = data[:, 1:].astype(np.int16)
        for y in range(ph):
            prev = _png_unfilter(int(data[y, 0]), work[y], prev, bpp)
            recon[y] = prev
        vals = _png_scanline_pixels(recon, pw, c_raw, depth)
        if palette is not None:
            if int(vals.max(initial=0)) >= palette.shape[0]:
                raise ValueError("palette index out of range")
            vals = palette[vals.reshape(ph, pw)]
        out[y0::dy, x0::dx, :] = vals
    if at != len(plain):
        raise ValueError(
            f"PNG scanline data is {len(plain)} bytes, "
            f"expected {at}"
        )
    return w, h, c_out, out.reshape(-1)


PNG_META_SCHEMA = PPM_META_SCHEMA  # same shape: real decode metadata


def decode_png_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL compressed-image decode for PNG payloads: inflate + the
    five scanline filters, width/height/channels from IHDR, mean
    pixel from the RECONSTRUCTED raster (exact integer sum, one
    double division, round 6). Same quarantine contract as
    decode_ppm_meta: malformed or unsupported files land in
    ``decode_error``, never fail the batch."""
    return decode_map(df, _raster_meta(_parse_png), PNG_META_SCHEMA, (),
                      id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL compressed animation decode: GIF (LZW). Like PNG above, the
# format needs no external codec — LZW decompression per the PUBLIC
# GIF89a specification plus a palette lookup. Gives the frame-sampling
# path a REAL compressed multi-frame container (y4m is uncompressed).
# ---------------------------------------------------------------------------


_LZW_BASE_TABLES: dict[int, list[bytes]] = {}


def _lzw_base_table(clear: int) -> list[bytes]:
    """Initial LZW string table for a given clear code (= 2^min_code
    size): the single-byte roots plus the clear/EOI placeholders.
    Cached module-wide — bytes entries are immutable so every decode
    shares them; a CLEAR reset is then a shallow list copy instead of
    ``clear`` fresh bytes() allocations (the profiled hot spot: GIF
    encoders emit CLEAR every time the table fills)."""
    base = _LZW_BASE_TABLES.get(clear)
    if base is None:
        base = [bytes([i]) for i in range(clear)] + [b"", b""]
        _LZW_BASE_TABLES[clear] = base
    return base


def _gif_lzw_decode(min_code_size: int, data: bytes,
                    expected: int) -> "np.ndarray":
    """Decode one GIF LZW-compressed index stream (codes packed
    LSB-first, table growth + width bumps per spec) into ``expected``
    palette indices."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = _lzw_base_table(clear)
    out = bytearray()
    # bit reader state
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = list(base)
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} out of range")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) > expected:
            raise ValueError("LZW produced more pixels than the frame")
    if len(out) != expected:
        raise ValueError(
            f"LZW produced {len(out)} pixels, expected {expected}"
        )
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _gif_deinterlace_rows(fh: int) -> list[int]:
    """GIF 4-pass interlace row transmission order (spec appendix E):
    rows 0,8,16.. then 4,12.. then 2,6.. then 1,3,5.."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, fh, step))
    return order


def _parse_gif(raw: bytes) -> tuple[int, int, list["np.ndarray"], list[int]]:
    """Parse a GIF87a/89a payload: returns (width, height,
    [h*w*3 uint8 RGB per composited frame], [delay_cs per frame]).

    Decoded for real (r9 widened): global AND local color tables,
    interlaced frames (4-pass row reorder), partial-canvas frames
    composited onto the running canvas, GCE transparency (the
    transparent index preserves the underlying canvas pixel), and
    disposal methods 0/1 (leave in place), 2 (restore the frame
    rect to the background color), and 3 (restore the frame rect to
    the pre-render canvas, r10). Honest gate (named error): frames
    without any color table."""
    if not raw.startswith((b"GIF87a", b"GIF89a")):
        raise ValueError("not a GIF payload (bad signature)")
    if len(raw) < 13:
        raise ValueError("truncated GIF header")
    w, h = struct.unpack("<HH", raw[6:10])
    packed = raw[10]
    bg_index = raw[11]
    if w <= 0 or h <= 0:
        raise ValueError(f"non-positive dimensions {w}x{h}")
    palette = None
    pos = 13
    if packed & 0x80:
        gct_size = 2 << (packed & 0x07)
        palette = np.frombuffer(
            raw[pos:pos + 3 * gct_size], dtype=np.uint8
        ).reshape(-1, 3)
        if palette.shape[0] != gct_size:
            raise ValueError("truncated global color table")
        pos += 3 * gct_size
    if palette is not None and bg_index < palette.shape[0]:
        bg_rgb = palette[bg_index]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).copy()

    frames: list[np.ndarray] = []
    delays: list[int] = []
    next_delay = 0
    next_transparent = None
    next_disposal = 0
    while pos < len(raw):
        b = raw[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos + 2 > len(raw):
                raise ValueError("truncated extension")
            label = raw[pos + 1]
            pos += 2
            blocks = bytearray()
            while True:
                if pos >= len(raw):
                    raise ValueError("truncated extension sub-blocks")
                n = raw[pos]
                pos += 1
                if n == 0:
                    break
                blocks.extend(raw[pos:pos + n])
                pos += n
            if label == 0xF9 and len(blocks) >= 4:
                gpacked = blocks[0]
                next_delay = struct.unpack("<H", bytes(blocks[1:3]))[0]
                next_disposal = (gpacked >> 2) & 0x07
                next_transparent = (
                    blocks[3] if gpacked & 0x01 else None
                )
            continue
        if b == 0x2C:  # image descriptor
            left, top, fw, fh = struct.unpack("<HHHH", raw[pos + 1:pos + 9])
            ipacked = raw[pos + 9]
            pos += 10
            if left + fw > w or top + fh > h or fw == 0 or fh == 0:
                raise ValueError("GIF frame rect outside the canvas")
            if next_disposal > 3:
                raise ValueError(
                    f"reserved GIF disposal method {next_disposal}"
                )
            frame_pal = palette
            if ipacked & 0x80:  # local color table
                lct_size = 2 << (ipacked & 0x07)
                frame_pal = np.frombuffer(
                    raw[pos:pos + 3 * lct_size], dtype=np.uint8
                ).reshape(-1, 3)
                if frame_pal.shape[0] != lct_size:
                    raise ValueError("truncated local color table")
                pos += 3 * lct_size
            if frame_pal is None:
                raise ValueError(
                    "GIF frame has neither global nor local color table"
                )
            min_code = raw[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                raise ValueError(f"bad LZW min code size {min_code}")
            data = bytearray()
            while True:
                if pos >= len(raw):
                    raise ValueError("truncated image sub-blocks")
                n = raw[pos]
                pos += 1
                if n == 0:
                    break
                data.extend(raw[pos:pos + n])
                pos += n
            idx = _gif_lzw_decode(min_code, bytes(data), fw * fh)
            if int(idx.max(initial=0)) >= frame_pal.shape[0]:
                raise ValueError("palette index out of range")
            grid = idx.reshape(fh, fw)
            if ipacked & 0x40:  # interlaced: undo transmission order
                dest = np.empty_like(grid)
                for src_row, dst_row in enumerate(
                    _gif_deinterlace_rows(fh)
                ):
                    dest[dst_row] = grid[src_row]
                grid = dest
            rect = canvas[top:top + fh, left:left + fw]
            # disposal 3: the rect reverts to its PRE-render pixels
            # after this frame displays, so snapshot it first
            prev_rect = rect.copy() if next_disposal == 3 else None
            rgb = frame_pal[grid]
            if next_transparent is not None:
                mask = grid != next_transparent
                rect[mask] = rgb[mask]
            else:
                rect[:] = rgb
            frames.append(canvas.reshape(-1).copy())
            delays.append(next_delay)
            if next_disposal == 2:  # restore rect to background
                canvas[top:top + fh, left:left + fw] = bg_rgb
            elif next_disposal == 3:  # restore rect to previous
                canvas[top:top + fh, left:left + fw] = prev_rect
            next_delay = 0
            next_transparent = None
            next_disposal = 0
            continue
        raise ValueError(f"unknown GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF contains no frames")
    return w, h, frames, delays


GIF_FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("delay_cs", IntegerType()),
    StructField("rgb_mean", DoubleType()),
    StructField("frame_sha256", StringType()),
])


def sample_gif_frames(
    df: DataFrame,
    every_k: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL compressed-animation frame sampling for GIF payloads: LZW
    decode + palette lookup, keep every ``every_k``-th frame (frame 0
    always), emit per-frame rows with the real RGB mean (exact
    integer sum, one division), the frame delay, and digest — the
    same 1→N fan-out contract as :func:`sample_y4m_frames`; malformed
    payloads are dropped."""
    if every_k < 1:
        raise ValueError("every_k must be >= 1")

    def _parse(payload) -> list[dict]:
        w, h, frames, delays = _parse_gif(bytes(payload))
        return [{"frame_idx": i, "width": w, "height": h,
                 "n_frames": len(frames), "delay_cs": delays[i],
                 "rgb_mean": round(int(frames[i].sum(dtype=np.int64))
                                   / frames[i].size, 6),
                 "frame_sha256": hashlib.sha256(
                     frames[i].tobytes()).hexdigest()}
                for i in range(0, len(frames), every_k)]

    return decode_map(df, _parse, GIF_FRAME_SCHEMA,
                      (ValueError, struct.error), id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL compressed-image decode: baseline JPEG (ITU-T T.81 / ISO
# 10918-1, public spec). Grayscale sequential-DCT: marker walk,
# canonical Huffman decode of the entropy-coded segment (0xFF00
# unstuffing, DC prediction, ZRL/EOB runs), dequantization, dezigzag,
# and a vectorized matrix IDCT — pure stdlib + numpy. The remaining
# honest gates shrink to MP4 codec payloads (AAC/H.264, libav-gated;
# the container demuxes for real in operators/mp4.py as of r10, the
# Vorbis byte path decodes natively in operators/vorbis.py as of r9,
# MP3's integer byte path in operators/mp3.py as of r10) and the rare
# JPEG corners (arithmetic coding, lossless/hierarchical);
# chroma-subsampled baseline (4:2:0/4:2:2), restart intervals, and
# PROGRESSIVE (SOF2) decode for real as of r8, 12-bit as of r9.
# ---------------------------------------------------------------------------


def _jpeg_zigzag() -> list:
    order = []
    for s in range(15):
        rows = range(min(s, 7), max(0, s - 7) - 1, -1)
        if s % 2:
            rows = reversed(list(rows))
        for r in rows:
            order.append((r, s - r))
    return order


_JPEG_ZZ = _jpeg_zigzag()

# IDCT basis A[x, u] = c(u)/2 * cos((2x+1) u pi / 16); f = A F A^T
_JPEG_IDCT_A = None


def _jpeg_idct_matrix() -> "np.ndarray":
    global _JPEG_IDCT_A
    if _JPEG_IDCT_A is None:
        import math

        a = np.empty((8, 8), dtype=np.float64)
        for x in range(8):
            for u in range(8):
                cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
                a[x, u] = 0.5 * cu * math.cos(
                    (2 * x + 1) * u * math.pi / 16.0
                )
        _JPEG_IDCT_A = a
    return _JPEG_IDCT_A


class _JpegBitReader(MsbBits):
    """Entropy reader over one scan's coded segment. The constructor
    PRE-UNSTUFFS: it copies bytes from ``pos`` until the first real
    marker, dropping 0xFF00 stuffing and recording each RSTn
    marker's (unstuffed offset, number) — after that, every field is
    an ``MsbBits`` read over a contiguous buffer, and Huffman decoding
    can read 16 bits at once for the LUT fast path."""

    __slots__ = ("_marks", "_mark_idx")

    def __init__(self, raw: bytes, pos: int):
        buf = bytearray()
        marks = []  # (unstuffed_byte_offset, rst_number)
        i, n = pos, len(raw)
        while i < n:
            b = raw[i]
            if b == 0xFF:
                if i + 1 >= n:
                    break
                m = raw[i + 1]
                if m == 0x00:
                    buf.append(0xFF)
                    i += 2
                    continue
                if 0xD0 <= m <= 0xD7:
                    marks.append((len(buf), m - 0xD0))
                    i += 2
                    continue
                break  # a real marker terminates the scan data
            buf.append(b)
            i += 1
        super().__init__(bytes(buf), 0, "JPEG")
        self._marks = marks
        self._mark_idx = 0

    def consume_restart(self, n: int) -> None:
        """Byte-align, then consume the expected RSTn marker (T.81
        E.1.4) — recorded during the unstuffing pre-scan, so here we
        verify the NEXT recorded marker sits exactly at the aligned
        position and carries the expected cycle number."""
        self.align()
        at = self.pos
        if self._mark_idx >= len(self._marks):
            raise ValueError(
                f"expected restart marker RST{n % 8}, found none"
            )
        off, num = self._marks[self._mark_idx]
        if off != at or num != n % 8:
            raise ValueError(
                f"expected restart marker RST{n % 8} at unstuffed "
                f"offset {at}, got RST{num} at {off}"
            )
        self._mark_idx += 1


def _jpeg_huff_table(bits: list, vals: list) -> "list":
    """16-bit-peek LUT decoder table per T.81 C.2: entry i holds
    (symbol, code_length) for every 16-bit window whose prefix is
    that code; length 0 marks invalid prefixes. Built once per
    DISTINCT (bits, vals) via an LRU cache — real corpora share the
    Annex-K tables across millions of files, and the fixtures share
    theirs across every payload in a batch."""
    return _jpeg_fast_table(tuple(bits), tuple(vals))


def _jpeg_fast_table(bits: tuple, vals: tuple) -> "list":
    import functools

    return _jpeg_fast_table_cached(bits, vals)


@__import__("functools").lru_cache(maxsize=64)
def _jpeg_fast_table_cached(bits: tuple, vals: tuple) -> "list":
    lut = [(0, 0)] * (1 << 16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise ValueError("DHT counts exceed symbol list")
            base = code << (16 - length)
            entry = (vals[k], length)
            for i in range(base, base + (1 << (16 - length))):
                lut[i] = entry
            code += 1
            k += 1
        code <<= 1
    return lut


def _jpeg_huff_decode(reader: _JpegBitReader, table: "list") -> int:
    # the next 16 bits, padded with 1s past the end of the scan
    bp = reader.bitpos
    take = min(16, reader.end - bp)
    window = 0xFFFF
    if take > 0:
        pad = 16 - take
        window = (reader.read(take) << pad) | ((1 << pad) - 1)
    sym, ln = table[window]
    if ln == 0 or ln > take:
        raise ValueError("invalid or truncated Huffman code in scan")
    reader.bitpos = bp + ln
    return sym


def _jpeg_extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_next_marker(raw: bytes, pos: int) -> int:
    """Advance to the next real marker after a scan's entropy data
    (skip fill bytes and anything that is not FF + non-stuff/non-RST)."""
    n = len(raw)
    while pos + 1 < n:
        if raw[pos] == 0xFF and raw[pos + 1] != 0x00 and not (
            0xD0 <= raw[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    raise ValueError("ran off the end looking for a marker")


def _parse_jpeg(raw: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """Decode a JPEG — baseline (SOF0) or PROGRESSIVE (SOF2) —
    grayscale or YCbCr at any integer sampling-factor grid, including
    the 4:2:0 most real crawls ship and 4:2:2 (general interleaved
    MCUs: h_i*v_i blocks per component per MCU, nearest-neighbor
    chroma upsampling per JFIF, per-component quant/Huffman tables
    and DC predictors, JFIF color conversion): returns (width,
    height, channels, uint8 array of h*w*channels).

    Progressive streams (T.81 annex G, the libjpeg-default encoding
    of most web JPEGs) decode for real: multi-scan coefficient
    accumulation with spectral selection (Ss..Se), successive
    approximation (Ah/Al) for both DC (bit-plane refinement) and AC
    (EOB-run coding in first scans; the correction-bit protocol of
    G.1.2.3 in refinement scans), interleaved or single-component DC
    scans, single-component AC scans on each component's own block
    grid, and table redefinition between scans. Restart intervals
    (DRI + cycling RSTn markers with predictor/EOB-run resets, T.81
    E.1.4) are supported in both modes. Raises ValueError on
    malformed input and on the honest unsupported corners
    (lossless/hierarchical/arithmetic SOFs, sampling factors
    outside 1/2/4) so they quarantine cleanly; 16-bit DQT entries
    (Pq=1) parse per T.81 B.2.4.1; 12-bit samples decode for real via
    SOF1/SOF2 (level shift 2048, clamp 0..4095, uint16 output), r9."""
    if len(raw) < 4 or raw[0:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (bad SOI)")
    pos = 2
    qtables: dict[int, list] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    sof = None
    progressive = False
    restart_interval = 0
    scan_jobs = []  # progressive: decoded below once dims are known
    baseline_scan = None

    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(raw):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", raw[pos + 2:pos + 4])
        body = raw[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (Pq=0: 8-bit entries, Pq=1: 16-bit)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                if pq not in (0, 1):
                    raise ValueError(f"invalid DQT precision {pq}")
                step = 1 + pq
                if p + 1 + 64 * step > len(body):
                    raise ValueError("truncated DQT")
                if pq == 0:
                    qtables[tq] = list(body[p + 1:p + 65])
                else:
                    qtables[tq] = [
                        int.from_bytes(body[p + 1 + 2 * i:
                                            p + 3 + 2 * i], "big")
                        for i in range(64)
                    ]
                p += 1 + 64 * step
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive — SOF1 decodes exactly like SOF0 (it only
            # relaxes baseline's table-count/precision limits)
            progressive = marker == 0xC2
            prec, h, w, ncomp = struct.unpack(">BHHB", body[0:6])
            if prec not in (8, 12):
                raise ValueError(f"{prec}-bit JPEG not supported (8/12)")
            if prec == 12 and marker == 0xC0:
                raise ValueError(
                    "12-bit samples are illegal in baseline SOF0 "
                    "(use SOF1/SOF2)"
                )
            if ncomp not in (1, 3):
                raise ValueError(
                    f"{ncomp}-component JPEG not supported (grayscale "
                    "or YCbCr only)"
                )
            comps = []
            for ci in range(ncomp):
                cid, sampling, tq = body[6 + 3 * ci:9 + 3 * ci]
                hs, vs = sampling >> 4, sampling & 15
                if hs not in (1, 2, 4) or vs not in (1, 2, 4):
                    raise ValueError(
                        f"sampling factor {hs}x{vs} not supported"
                    )
                comps.append((cid, tq, hs, vs))
            sof = (w, h, comps, prec)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported SOF marker 0xFF{marker:02X} (sequential "
                "SOF0/SOF1 and progressive SOF2 only)"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                cls, tid = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1:p + 17])
                nvals = sum(bits)
                vals = list(body[p + 17:p + 17 + nvals])
                if len(vals) != nvals:
                    raise ValueError("truncated DHT")
                table = _jpeg_huff_table(bits, vals)
                (dc_tables if cls == 0 else ac_tables)[tid] = table
                p += 17 + nvals
        elif marker == 0xDD:  # DRI (T.81 B.2.4.4)
            if len(body) != 2:
                raise ValueError("malformed DRI segment")
            restart_interval = struct.unpack(">H", body)[0]
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_comps = []
            for ci in range(ns):
                scan_comps.append(
                    (body[1 + 2 * ci],
                     body[2 + 2 * ci] >> 4, body[2 + 2 * ci] & 15)
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 15
            entry = pos + 2 + seglen
            if not progressive:
                baseline_scan = (scan_comps, entry)
                break  # baseline: single scan, decode below
            # progressive: decode this scan NOW (tables may be
            # redefined later), recording a job with table snapshots
            scan_jobs.append((
                scan_comps, ss, se, ah, al, entry,
                dict(dc_tables), dict(ac_tables), restart_interval,
            ))
            # skip the entropy data to the next marker
            pos = _jpeg_next_marker(raw, entry)
            continue
        pos += 2 + seglen

    if sof is None:
        raise ValueError("missing SOF0/SOF2 segment")
    w, h, comps, prec = sof
    if w <= 0 or h <= 0:
        raise ValueError(f"non-positive dimensions {w}x{h}")
    lvl = float(1 << (prec - 1))   # level shift (T.81 A.3.1)
    maxv = (1 << prec) - 1
    out_dtype = np.uint8 if prec == 8 else np.uint16

    a = _jpeg_idct_matrix()
    ncomp = len(comps)
    hmax = max(hs for _c, _t, hs, _v in comps)
    vmax = max(vs for _c, _t, _h, vs in comps)
    # MCU grid: each MCU covers 8*hmax x 8*vmax pixels; component i
    # contributes hs*vs 8x8 blocks per MCU in row-major order (T.81
    # A.2.3 interleaved data ordering).
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # natural-order quant matrices and per-component geometry
    qmats = []
    geom = []  # (hs, vs, bw_own, bh_own) — own grid for 1-comp scans
    for cid, tq, hs, vs in comps:
        if tq not in qtables:
            raise ValueError(f"missing quant table {tq}")
        q = np.zeros((8, 8), dtype=np.float64)
        for zzpos, (r, c) in enumerate(_JPEG_ZZ):
            q[r, c] = qtables[tq][zzpos]
        qmats.append(q)
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        geom.append((hs, vs, (cw + 7) // 8, (ch + 7) // 8))

    comp_planes: list = [None] * ncomp

    if not progressive:
        if baseline_scan is None:
            raise ValueError("missing SOS segment")
        scan_comps, entry = baseline_scan
        spec = {cid: (d, ac) for cid, d, ac in scan_comps}
        if len(spec) != ncomp:
            raise ValueError(
                "scan component count != frame component count"
            )
        plan = []
        for ci, (cid, tq, hs, vs) in enumerate(comps):
            if cid not in spec:
                raise ValueError(f"scan is missing component {cid}")
            dc_id, ac_id = spec[cid]
            if dc_id not in dc_tables or ac_id not in ac_tables:
                raise ValueError("missing Huffman table for scan")
            plan.append((qmats[ci], dc_tables[dc_id],
                         ac_tables[ac_id], hs, vs))

        def decode_block(reader, q, dc_t, ac_t, pred):
            coefs = np.zeros((8, 8), dtype=np.float64)
            s = _jpeg_huff_decode(reader, dc_t)
            diff = _jpeg_extend(reader.read(s), s) if s else 0
            pred += diff
            coefs[0, 0] = pred
            k = 1
            while k <= 63:
                rs = _jpeg_huff_decode(reader, ac_t)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("AC run overflows block")
                rr, cc = _JPEG_ZZ[k]
                coefs[rr, cc] = _jpeg_extend(reader.read(s), s)
                k += 1
            return a @ (coefs * q) @ a.T + lvl, pred

        reader = _JpegBitReader(raw, entry)
        for ci, (_q, _d, _a2, hs, vs) in enumerate(plan):
            comp_planes[ci] = np.empty(
                (mcuy * vs * 8, mcux * hs * 8), dtype=np.float64
            )
        preds = [0] * ncomp
        mcu_no = 0
        rst_no = 0
        for my in range(mcuy):
            for mx in range(mcux):
                # DRI: every restart_interval MCUs the stream
                # byte-aligns, an RSTn marker (cycling 0..7)
                # interrupts, and ALL DC predictors reset
                if restart_interval and mcu_no and \
                        mcu_no % restart_interval == 0:
                    reader.consume_restart(rst_no)
                    rst_no = (rst_no + 1) % 8
                    preds = [0] * ncomp
                mcu_no += 1
                for ci, (q, dc_t, ac_t, hs, vs) in enumerate(plan):
                    for v in range(vs):
                        for hsub in range(hs):
                            block, preds[ci] = decode_block(
                                reader, q, dc_t, ac_t, preds[ci]
                            )
                            r0 = (my * vs + v) * 8
                            c0 = (mx * hs + hsub) * 8
                            comp_planes[ci][r0:r0 + 8,
                                            c0:c0 + 8] = block
    else:
        if not scan_jobs:
            raise ValueError("progressive JPEG with no scans")
        # zigzag-order coefficient accumulators at MCU-padded dims
        coefs = [
            np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32)
            for hs, vs, _bw, _bh in geom
        ]
        cid_to_ci = {cid: ci for ci, (cid, _t, _h, _v) in
                     enumerate(comps)}
        for (scan_comps, ss, se, ah, al, entry,
             dcs, acs, rst_int) in scan_jobs:
            reader = _JpegBitReader(raw, entry)
            members = []
            for cid, dc_id, ac_id in scan_comps:
                if cid not in cid_to_ci:
                    raise ValueError(f"scan names unknown component {cid}")
                members.append((cid_to_ci[cid], dc_id, ac_id))
            if ss == 0:
                _jpeg_prog_dc_scan(
                    reader, members, se, ah, al, coefs, geom, dcs,
                    mcux, mcuy, rst_int,
                )
            else:
                _jpeg_prog_ac_scan(
                    reader, members, ss, se, ah, al, coefs, geom,
                    acs, rst_int,
                )
        # dequantize + IDCT every block, vectorized per component
        zzr = np.array([r for r, _c in _JPEG_ZZ])
        zzc = np.array([c for _r, c in _JPEG_ZZ])
        for ci, (hs, vs, _bw, _bh) in enumerate(geom):
            bh, bw = coefs[ci].shape[:2]
            nat = np.zeros((bh, bw, 8, 8), dtype=np.float64)
            nat[:, :, zzr, zzc] = coefs[ci]
            nat *= qmats[ci]
            # batched a @ M @ a.T
            out = np.einsum("ij,xyjk,lk->xyil", a, nat, a) + lvl
            comp_planes[ci] = (
                out.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
            )

    # JFIF nearest-neighbor upsample of subsampled components to the
    # full-resolution grid, then crop to the frame dimensions
    planes = np.empty((ncomp, h, w), dtype=np.float64)
    for ci, (hs, vs, _bw, _bh) in enumerate(geom):
        p = comp_planes[ci]
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        planes[ci] = p[:h, :w]
    if ncomp == 1:
        px = np.clip(np.rint(planes[0]), 0, maxv).astype(out_dtype)
        return w, h, 1, px.reshape(-1)
    # JFIF YCbCr -> RGB (floats carried unrounded from the IDCT so the
    # only rounding is the final per-channel one; chroma centered at
    # the level-shift midpoint, 128 or 2048)
    y, cb, cr = planes[0], planes[1] - lvl, planes[2] - lvl
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    px = np.clip(np.rint(rgb), 0, maxv).astype(out_dtype)
    return w, h, 3, px.reshape(-1)


def _jpeg_prog_dc_scan(
    reader, members, se, ah, al, coefs, geom, dc_tables,
    mcux, mcuy, rst_int,
):
    """Progressive DC scan (T.81 G.1.2.1): first pass (Ah=0) is the
    usual differential decode of the top bits, stored << Al; refinement
    passes (Ah>0) read ONE bit per block into bit position Al.
    Interleaved (all components, MCU order) or single-component (own
    block grid) traversal; restarts reset predictors."""
    if se != 0:
        raise ValueError("DC scan must have Se = 0")
    for _ci, dc_id, _ac in members:
        if ah == 0 and dc_id not in dc_tables:
            raise ValueError("missing DC Huffman table for scan")
    preds = {ci: 0 for ci, _d, _a in members}
    rst_no = 0
    unit_no = 0

    def unit(ci, dc_id, by, bx):
        tgt = coefs[ci]
        if ah == 0:
            s = _jpeg_huff_decode(reader, dc_tables[dc_id])
            diff = _jpeg_extend(reader.read(s), s) if s else 0
            preds[ci] += diff
            tgt[by, bx, 0] = preds[ci] << al
        else:
            if reader.read1():
                tgt[by, bx, 0] |= 1 << al

    def restart_check():
        nonlocal rst_no, unit_no
        if rst_int and unit_no and unit_no % rst_int == 0:
            reader.consume_restart(rst_no)
            rst_no = (rst_no + 1) % 8
            for k in preds:
                preds[k] = 0
        unit_no += 1

    if len(members) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                restart_check()
                for ci, dc_id, _ac in members:
                    hs, vs, _bw, _bh = geom[ci]
                    for v in range(vs):
                        for hh in range(hs):
                            unit(ci, dc_id, my * vs + v, mx * hs + hh)
    else:
        ci, dc_id, _ac = members[0]
        _hs, _vs, bw_own, bh_own = geom[ci]
        for by in range(bh_own):
            for bx in range(bw_own):
                restart_check()
                unit(ci, dc_id, by, bx)


def _jpeg_prog_ac_scan(
    reader, members, ss, se, ah, al, coefs, geom, ac_tables, rst_int,
):
    """Progressive AC scan (T.81 G.1.2.2 / G.1.2.3): non-interleaved
    by spec (one component, its own block grid). First passes (Ah=0)
    code (run, size) pairs with EOB-RUN symbols (r<15, s=0 encodes
    2^r + bits(r) all-zero-from-here blocks); refinement passes carry
    one correction bit per already-nonzero coefficient and introduce
    newly-significant +-1<<Al coefficients, the G.1.2.3 protocol."""
    if len(members) != 1:
        raise ValueError("progressive AC scan must be single-component")
    ci, _dc, ac_id = members[0]
    if ac_id not in ac_tables:
        raise ValueError("missing AC Huffman table for scan")
    ac_t = ac_tables[ac_id]
    _hs, _vs, bw_own, bh_own = geom[ci]
    tgt = coefs[ci]
    eob_run = 0
    rst_no = 0
    unit_no = 0
    bitv = 1 << al

    def refine_nz(data, k):
        if reader.read1():
            if (int(data[k]) & bitv) == 0:
                data[k] += bitv if data[k] > 0 else -bitv

    for by in range(bh_own):
        for bx in range(bw_own):
            if rst_int and unit_no and unit_no % rst_int == 0:
                reader.consume_restart(rst_no)
                rst_no = (rst_no + 1) % 8
                eob_run = 0
            unit_no += 1
            data = tgt[by, bx]
            if ah == 0:  # first pass for this band
                if eob_run:
                    eob_run -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_huff_decode(reader, ac_t)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:
                            eob_run = (1 << r) - 1
                            if r:
                                eob_run += reader.read(r)
                            break
                        k += 16  # ZRL
                    else:
                        k += r
                        if k > se:
                            raise ValueError("AC run overflows band")
                        data[k] = _jpeg_extend(
                            reader.read(s), s
                        ) << al
                        k += 1
            else:  # refinement pass (G.1.2.3)
                if eob_run:
                    eob_run -= 1
                    for k in range(ss, se + 1):
                        if data[k] != 0:
                            refine_nz(data, k)
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_huff_decode(reader, ac_t)
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r < 15:
                            eob_run = (1 << r) - 1
                            if r:
                                eob_run += reader.read(r)
                            r = 64  # consume the rest as corrections
                        # r == 15: run of 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise ValueError(
                                "AC refinement magnitude must be 1"
                            )
                        newval = bitv if reader.read1() else -bitv
                    while k <= se:
                        if data[k] != 0:
                            refine_nz(data, k)
                        else:
                            if r == 0:
                                if newval:
                                    data[k] = newval
                                k += 1
                                break
                            r -= 1
                        k += 1


JPEG_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("y_sum", LongType()),
    StructField("mean_px", DoubleType()),
    StructField("payload_sha256", StringType()),
    StructField("decode_error", StringType()),
])


def decode_jpeg_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL baseline-JPEG decode for binary payload columns: Huffman
    entropy decode + dequant + IDCT per ``_parse_jpeg``, emitting
    dimensions, the exact integer pixel sum, and the mean (one double
    division, round 6). Same quarantine contract as the other decoders:
    malformed or unsupported files land in ``decode_error``."""
    return decode_map(df, _raster_meta(_parse_jpeg), JPEG_META_SCHEMA, (),
                      id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL compressed-audio decode: FLAC (free public spec / RFC 9639),
# fixed-predictor subset, mono + stereo — STREAMINFO parse, frame
# sync with CRC-8/CRC-16 verification, UTF-8 frame numbers, subframe
# decode (CONSTANT / VERBATIM / FIXED 0-4) with genuine Rice residual
# decoding and predictor reconstruction; all four stereo channel
# assignments (independent, left/side, right/side, mid/side — side
# subframes at bps+1, mid via the (mid<<1)|(side&1) reconstruction).
# FLAC is lossless, so decoded samples equal the planted ones EXACTLY
# — decode oracles are pure integer arithmetic. LPC subframes decode
# for real as of r8 (quantized-coefficient dot product with the
# arithmetic floor shift, RFC 9639 §9.2.5), as do up to 8 independent
# channels and 8/12/16/20/24/32-bit depths and wasted-bits streams;
# the remaining honest gates (named errors) are the reserved
# channel-assignment/blocksize codes.
# ---------------------------------------------------------------------------


# FLAC's CRC-8 (poly 0x07) over the frame header and CRC-16 (poly
# 0x8005) over the frame; both MSB-first with init 0, no xorout
_FLAC_CRC8 = crc_table_msb(0x07, 8)
_FLAC_CRC16 = crc_table_msb(0x8005, 16)


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_FLAC_BS_TABLE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}


def _read_utf8_number(raw: bytes, pos: int) -> tuple[int, int]:
    b0 = raw[pos]
    if b0 < 0x80:
        return b0, pos + 1
    n_cont = 0
    for mask, bits in ((0xE0, 0xC0), (0xF0, 0xE0), (0xF8, 0xF0),
                       (0xFC, 0xF8), (0xFE, 0xFC), (0xFF, 0xFE)):
        n_cont += 1
        if b0 & mask == bits:
            val = b0 & (0xFF >> (n_cont + 2))
            for i in range(1, n_cont + 1):
                c = raw[pos + i]
                if c & 0xC0 != 0x80:
                    raise ValueError("bad UTF-8 continuation in frame no")
                val = (val << 6) | (c & 0x3F)
            return val, pos + n_cont + 1
    raise ValueError("bad UTF-8 coded frame number")


def _flac_subframe(br: MsbBits, bs: int, bits: int) -> "np.ndarray":
    """Decode one subframe (CONSTANT / VERBATIM / FIXED 0-4 with
    genuine Rice residuals incl. escape partitions) at ``bits``
    bits per sample — side channels of decorrelated stereo carry
    bps+1 (RFC 9639 §9.2.2), which is why this is parameterized."""
    if br.read1() != 0:
        raise ValueError("subframe sync bit set")
    sf_type = br.read(6)
    wasted = 0
    if br.read1():  # wasted-bits flag: k >= 1, coded as unary(k - 1)
        wasted = br.unary() + 1
        if wasted >= bits:
            raise ValueError("wasted bits exceed sample width")
        bits -= wasted
    block = np.empty(bs, dtype=np.int64)
    half = 1 << (bits - 1)
    full = 1 << bits

    def sgn(v: int) -> int:
        return v - full if v >= half else v

    if sf_type == 0b000000:  # CONSTANT
        block[:] = sgn(br.read(bits))
    elif sf_type == 0b000001:  # VERBATIM
        for i in range(bs):
            block[i] = sgn(br.read(bits))
    elif 0b001000 <= sf_type <= 0b001100:  # FIXED order 0-4
        order = sf_type & 0x07
        if order > bs:
            raise ValueError("predictor order exceeds block size")
        for i in range(order):
            block[i] = sgn(br.read(bits))
        method = br.read(2)
        if method not in (0, 1):
            raise ValueError("reserved residual coding method")
        pbits = 4 if method == 0 else 5
        esc = (1 << pbits) - 1
        part_order = br.read(4)
        n_parts = 1 << part_order
        if bs % n_parts:
            raise ValueError("partition size does not divide block")
        res = []
        for p in range(n_parts):
            cnt = bs // n_parts - (order if p == 0 else 0)
            param = br.read(pbits)
            if param == esc:
                rawbits = br.read(5)
                if rawbits == 0:
                    # legal escape: 0-bit raw width codes an all-zero
                    # residual partition (RFC 9639 §9.2.7.2)
                    res.extend([0] * cnt)
                    continue
                for _ in range(cnt):
                    v = br.read(rawbits)
                    h2 = 1 << (rawbits - 1)
                    res.append(v - (1 << rawbits) if v >= h2 else v)
            else:
                for _ in range(cnt):
                    q = br.unary()
                    z = (q << param) | (br.read(param) if param else 0)
                    res.append(
                        (z >> 1) if z % 2 == 0 else -((z + 1) >> 1)
                    )
        coefs = _FLAC_FIXED_COEFS[order]
        # reconstruct on a Python list: per-sample numpy scalar reads
        # cost ~10x a list index in this serial recurrence
        out = [int(block[j]) for j in range(order)]
        for i in range(order, bs):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - j - 1]
            v = pred + res[i - order]
            if v > 0x400000000 or v < -0x400000000:
                # a valid stream stays within bits+wasted (<= 26 bits
                # + headroom); corrupt residuals otherwise inflate the
                # recurrence into unbounded ints (numpy OverflowError
                # escapes the quarantine net, and the big-int math
                # cost explodes)
                raise ValueError("sample overflow — corrupt stream")
            out.append(v)
        block[:bs] = out
    elif sf_type >= 0b100000:  # LPC, order = (sf_type & 0x1F) + 1
        order = (sf_type & 0x1F) + 1
        if order > bs:
            raise ValueError("predictor order exceeds block size")
        for i in range(order):
            block[i] = sgn(br.read(bits))
        prec = br.read(4)
        if prec == 0b1111:
            raise ValueError("invalid LPC precision code 1111")
        prec += 1
        shift = br.read(5)
        if shift >= 16:  # 5-bit two's complement; negative reserved
            raise ValueError("negative LPC shift is reserved")
        qcoefs = []
        for _ in range(order):
            c = br.read(prec)
            qcoefs.append(c - (1 << prec) if c >= (1 << (prec - 1))
                          else c)
        method = br.read(2)
        if method not in (0, 1):
            raise ValueError("reserved residual coding method")
        pbits = 4 if method == 0 else 5
        esc = (1 << pbits) - 1
        part_order = br.read(4)
        n_parts = 1 << part_order
        if bs % n_parts:
            raise ValueError("partition size does not divide block")
        res = []
        for p in range(n_parts):
            cnt = bs // n_parts - (order if p == 0 else 0)
            param = br.read(pbits)
            if param == esc:
                rawbits = br.read(5)
                if rawbits == 0:
                    # legal escape: 0-bit raw width codes an all-zero
                    # residual partition (RFC 9639 §9.2.7.2)
                    res.extend([0] * cnt)
                    continue
                for _ in range(cnt):
                    v = br.read(rawbits)
                    h2 = 1 << (rawbits - 1)
                    res.append(v - (1 << rawbits) if v >= h2 else v)
            else:
                for _ in range(cnt):
                    q = br.unary()
                    z = (q << param) | (br.read(param) if param else 0)
                    res.append(
                        (z >> 1) if z % 2 == 0 else -((z + 1) >> 1)
                    )
        # prediction: floor-shifted quantized dot product (RFC 9639
        # §9.2.5: arithmetic >> of the accumulated sum, exact ints);
        # Python-list recurrence — numpy scalar indexing dominates at
        # order 8 otherwise (bench: flac_decode_lpc 8.9 -> ~3 s)
        out = [int(block[j]) for j in range(order)]
        rng = range(order)
        for i in range(order, bs):
            acc = 0
            for j in rng:
                acc += qcoefs[j] * out[i - j - 1]
            v = (acc >> shift) + res[i - order]
            if v > 0x400000000 or v < -0x400000000:
                raise ValueError("sample overflow — corrupt stream")
            out.append(v)
        block[:bs] = out
    else:
        raise ValueError(f"reserved subframe type {sf_type:#08b}")
    # wasted-bits reconstruction: samples were coded at bits-k and
    # shift left by k (RFC 9639 §9.2.3)
    return block << wasted if wasted else block


def _parse_flac(raw: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode a fixed-predictor-subset FLAC stream, mono or stereo —
    all four stereo decorrelation modes (independent, left/side,
    right/side, mid/side with the (mid<<1)|(side&1) reconstruction;
    side subframes at bps+1, RFC 9639 §9.2.2): returns
    (sample_rate_hz, n_samples, int32 array — shape (n,) mono,
    (n, 2) stereo). Raises ValueError on malformed input and on
    honest unsupported corners (CRC mismatches, STREAMINFO/frame
    disagreements, reserved codes); LPC subframes, up to 8
    independent channels and 8-24-bit depths decode for real (r8)."""
    if len(raw) < 42 or raw[0:4] != b"fLaC":
        raise ValueError("not a FLAC payload (bad magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(raw):
            raise ValueError("truncated FLAC metadata")
        hdr = raw[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(raw[pos + 1:pos + 4], "big")
        body = raw[pos + 4:pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            streaminfo = body
        pos += 4 + blen
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("missing STREAMINFO")
    sr = int.from_bytes(streaminfo[10:13], "big") >> 4
    n_channels = ((streaminfo[12] >> 1) & 0x7) + 1
    bps = (((streaminfo[12] & 1) << 4) | (streaminfo[13] >> 4)) + 1
    total = (
        (streaminfo[13] & 0x0F) << 32
    ) | int.from_bytes(streaminfo[14:18], "big")
    if not 1 <= n_channels <= 8:
        raise ValueError(f"invalid channel count {n_channels}")
    if bps not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"invalid FLAC bits-per-sample {bps}")
    if total <= 0:
        raise ValueError("STREAMINFO reports zero samples")

    samples = np.empty(
        (total,) if n_channels == 1 else (total, n_channels),
        dtype=np.int32,
    )
    got = 0
    while got < total:
        frame_start = pos
        if pos + 5 > len(raw):
            raise ValueError("truncated FLAC frame header")
        sync = (raw[pos] << 6) | (raw[pos + 1] >> 2)
        if sync != 0b11111111111110:
            raise ValueError(f"lost frame sync at byte {pos}")
        bs_code = raw[pos + 2] >> 4
        sr_code = raw[pos + 2] & 0x0F
        ch_code = raw[pos + 3] >> 4
        ss_code = (raw[pos + 3] >> 1) & 0x7
        if ch_code == 0b0000:
            frame_ch, mode = 1, "mono"
        elif ch_code <= 0b0111:  # N independent channels
            frame_ch, mode = ch_code + 1, "independent"
        elif ch_code == 0b1000:
            frame_ch, mode = 2, "left_side"
        elif ch_code == 0b1001:
            frame_ch, mode = 2, "right_side"
        elif ch_code == 0b1010:
            frame_ch, mode = 2, "mid_side"
        else:
            raise ValueError(
                f"channel assignment {ch_code:#06b} not supported"
            )
        if frame_ch != n_channels:
            raise ValueError(
                "frame channel assignment disagrees with STREAMINFO"
            )
        # sample-size code (RFC 9639 frame header): must agree with
        # STREAMINFO (0b000 = "from STREAMINFO" also accepted)
        _SS = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20, 0b110: 24,
               0b111: 32}
        if ss_code != 0 and _SS.get(ss_code) != bps:
            raise ValueError(
                f"frame sample-size code {ss_code:#05b} disagrees "
                f"with STREAMINFO bps {bps}"
            )
        pos += 4
        _, pos = _read_utf8_number(raw, pos)
        if bs_code == 0b0110:
            bs = raw[pos] + 1
            pos += 1
        elif bs_code == 0b0111:
            bs = int.from_bytes(raw[pos:pos + 2], "big") + 1
            pos += 2
        elif bs_code in _FLAC_BS_TABLE:
            bs = _FLAC_BS_TABLE[bs_code]
        else:
            raise ValueError(f"reserved blocksize code {bs_code}")
        if sr_code in (0b1100, 0b1101, 0b1110):
            pos += 1 if sr_code == 0b1100 else 2
        crc8 = raw[pos]
        if crc_msb(raw[frame_start:pos], _FLAC_CRC8, 8, 0) != crc8:
            raise ValueError("frame header CRC-8 mismatch")
        pos += 1

        br = MsbBits(raw, pos, "FLAC")
        if mode == "mono":
            block = _flac_subframe(br, bs, bps)
        elif mode == "independent":
            block = np.stack(
                [_flac_subframe(br, bs, bps) for _ in range(frame_ch)],
                axis=1,
            )
        else:
            # side subframes carry bps+1 bits (RFC 9639 §9.2.2)
            b0_bits = bps + 1 if mode == "right_side" else bps
            b1_bits = bps if mode == "right_side" else bps + 1
            sub0 = _flac_subframe(br, bs, b0_bits)
            sub1 = _flac_subframe(br, bs, b1_bits)
            if mode == "left_side":
                left = sub0
                right = sub0 - sub1
            elif mode == "right_side":
                right = sub1
                left = sub1 + sub0
            else:  # mid_side
                mid2 = (sub0 << 1) | (sub1 & 1)
                left = (mid2 + sub1) >> 1
                right = (mid2 - sub1) >> 1
            block = np.stack([left, right], axis=1)

        br.align()
        pos = br.pos
        crc16 = int.from_bytes(raw[pos:pos + 2], "big")
        if crc_msb(raw[frame_start:pos], _FLAC_CRC16, 16, 0) != crc16:
            raise ValueError("frame CRC-16 mismatch")
        pos += 2
        take = min(bs, total - got)
        samples[got:got + take] = block[:take].astype(np.int32)
        got += take
    return sr, int(total), samples


def decode_flac_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window_samples: int = 256,
) -> DataFrame:
    """REAL compressed-audio decode for FLAC payloads
    (``_parse_flac``: CONSTANT/VERBATIM/FIXED/LPC subframes, up to 8
    channels, all four stereo assignments, 8-24-bit depths, wasted
    bits): sample rate / duration from STREAMINFO, per-window RMS
    energy from the losslessly reconstructed samples — the same
    feature contract as ``decode_wav_features``, so a curation
    pipeline treats WAV and FLAC sources identically. Unsupported
    corners and corrupt streams (CRC mismatches) quarantine into
    ``decode_error`` with named messages."""

    def _parse(payload) -> dict:
        rate, n, samples = _parse_flac(bytes(payload))
        return _audio_features(rate, n, samples, window_samples)

    return decode_map(df, _parse, WAV_FEATURE_SCHEMA,
                      (ValueError, IndexError, struct.error),
                      id_col, payload_col)


DHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("phash_hi", LongType()),
    StructField("phash_lo", LongType()),
    StructField("decode_error", StringType()),
])


def dhash_images(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL-decoded NetPBM
    payloads — the image near-duplicate key a training-data pipeline
    buckets on before any pairwise comparison (the image analogue of
    the MinHash band key: candidate work proportional to duplicate
    mass, never corpus²).

    Pipeline per payload, all inside one Arrow ``mapInPandas`` batch:
    parse the P5/P6 raster (``_parse_ppm`` — the real decoder, not a
    metadata shortcut), grayscale by exact integer channel sum,
    average-pool to the canonical 9x8 dHash grid by integer block
    sums (exact: requires width % 9 == 0 and height % 8 == 0, other
    geometries quarantine — resampling arbitrary sizes would make
    the hash engine-dependent), then emit the 64 left<right
    comparison bits split into two 32-bit halves ``(phash_hi,
    phash_lo)`` so the values stay on the exact BIGINT grid in both
    engines (a single 64-bit word would need unsigned wraparound).
    Bit (y, x) of the logical hash is ``grid[y][x] < grid[y][x+1]``
    at position ``y*8 + x``; rows 0-3 pack into ``phash_lo``, rows
    4-7 into ``phash_hi``. Same quarantine contract as the other
    decoders: malformed payloads land in ``decode_error``, the batch
    never fails."""

    def _parse(payload) -> dict:
        w, h, c, px = _parse_ppm(bytes(payload))
        if w % 9 or h % 8:
            raise ValueError(
                f"dhash needs width%9==0 and height%8==0, got {w}x{h}")
        img = px.reshape(h, w, c).astype(np.int64).sum(axis=2)
        bw, bh = w // 9, h // 8
        grid = img.reshape(8, bh, 9, bw).sum(axis=(1, 3))
        bits = (grid[:, :-1] < grid[:, 1:])
        lo = hi = 0
        for y in range(4):
            for x in range(8):
                if bits[y, x]:
                    lo |= 1 << (y * 8 + x)
        for y in range(4, 8):
            for x in range(8):
                if bits[y, x]:
                    hi |= 1 << ((y - 4) * 8 + x)
        return {"width": w, "height": h, "phash_hi": hi, "phash_lo": lo}

    return decode_map(df, _parse, DHASH_SCHEMA, (ValueError,),
                      id_col, payload_col)


def phash_near_pairs(
    hashed: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Image near-duplicate pairs at HASH grain: band the 64-bit
    dHash into four 16-bit keys, self-join per band, then exact
    Hamming verify (pigeonhole: hamming <= 3 < 4 bands guarantees at
    least one equal band, so banding is lossless for the threshold).

    Input is ``dhash_images`` output; the operator first collapses
    to the DISTINCT-hash table with document counts, so all pairwise
    work scales with distinct perceptual hashes (the number of
    visually distinct images), never with document count — the same
    candidate-mass contract as the MinHash/SimHash text paths.
    Output: one row per near pair, ``(phash_hi_a, phash_lo_a,
    phash_hi_b, phash_lo_b, hamming, docs_a, docs_b)`` with pair
    order fixed by (hi, lo)."""
    # the distinct-hash table feeds all four band branches on BOTH join
    # sides (8 consumers): without a checkpoint each consumer replays
    # the entire upstream decode pipeline — the r13 before-plan carried
    # 32 MapInPandas nodes for one synth+dhash pass. Rows are three
    # longs per visually distinct image, so the cache stays tiny.
    hh = (
        hashed.filter(F.col("phash_hi").isNotNull())
        .groupBy("phash_hi", "phash_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    bands = []
    for i, (col, sh) in enumerate([
        ("phash_lo", 0), ("phash_lo", 16),
        ("phash_hi", 0), ("phash_hi", 16),
    ]):
        bands.append(
            hh.select(
                "phash_hi", "phash_lo", "n_docs",
                F.lit(i).alias("band"),
                F.shiftright(F.col(col), sh)
                .bitwiseAND(F.lit(0xFFFF)).alias("key"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    a = banded.select(
        F.col("band"), F.col("key"),
        F.col("phash_hi").alias("hi_a"), F.col("phash_lo").alias("lo_a"),
        F.col("n_docs").alias("docs_a"),
    )
    b = banded.select(
        F.col("band"), F.col("key"),
        F.col("phash_hi").alias("hi_b"), F.col("phash_lo").alias("lo_b"),
        F.col("n_docs").alias("docs_b"),
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(
            (F.col("hi_a") < F.col("hi_b"))
            | ((F.col("hi_a") == F.col("hi_b"))
               & (F.col("lo_a") < F.col("lo_b")))
        )
        .select("hi_a", "lo_a", "hi_b", "lo_b", "docs_a", "docs_b")
        .distinct()
    )
    ham = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    )
    return cand.select(
        F.col("hi_a").alias("phash_hi_a"),
        F.col("lo_a").alias("phash_lo_a"),
        F.col("hi_b").alias("phash_hi_b"),
        F.col("lo_b").alias("phash_lo_b"),
        ham.cast("int").alias("hamming"),
        "docs_a", "docs_b",
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# REAL BMP decode (Windows DIB, public format): BITMAPFILEHEADER +
# BITMAPINFOHEADER (V4/V5 accepted — same leading fields), bottom-up
# AND top-down rasters, 4-byte row padding, 24-bit BGR / 32-bit BGRX
# / 8-bit paletted / RLE8 (encoded runs, absolute mode, EOL + EOB
# markers). Everything is structural arithmetic — no entropy tables —
# so decode oracles are exact integers. Honest gates (named errors):
# BITFIELDS/JPEG/PNG compressions, RLE4, 1/4/16-bit depths.
# ---------------------------------------------------------------------------


def _parse_bmp(raw: bytes) -> "tuple[int, int, int, np.ndarray]":
    """Returns (width, height, channels, HxWx3 uint8 RGB raster)."""
    if len(raw) < 54:
        raise ValueError("truncated BMP header")
    if raw[:2] != b"BM":
        raise ValueError("BMP magic missing")
    data_off = int.from_bytes(raw[10:14], "little")
    hsize = int.from_bytes(raw[14:18], "little")
    if hsize < 40:
        raise ValueError(f"BMP core/unknown header size {hsize}")
    w = int.from_bytes(raw[18:22], "little", signed=True)
    h = int.from_bytes(raw[22:26], "little", signed=True)
    planes = int.from_bytes(raw[26:28], "little")
    bpp = int.from_bytes(raw[28:30], "little")
    comp = int.from_bytes(raw[30:34], "little")
    clr_used = int.from_bytes(raw[46:50], "little")
    if planes != 1:
        raise ValueError(f"BMP planes {planes} != 1")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("non-positive BMP dimensions")
    if w * h > 50_000_000:
        raise ValueError("BMP dimensions exceed resource bound")
    if bpp not in (8, 24, 32):
        raise ValueError(f"BMP bit depth {bpp} unsupported")
    if comp == 1 and bpp != 8:
        raise ValueError("RLE8 requires 8-bit depth")
    if comp not in (0, 1):
        raise ValueError(f"BMP compression {comp} unsupported")
    palette = None
    if bpp == 8:
        n_colors = clr_used or 256
        pal_off = 14 + hsize
        if pal_off + 4 * n_colors > len(raw):
            raise ValueError("truncated BMP palette")
        palette = np.frombuffer(
            raw, dtype=np.uint8, count=4 * n_colors, offset=pal_off
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRX -> RGB
    out = np.zeros((h, w, 3), dtype=np.uint8)
    if comp == 1:
        # RLE8 (§ BITMAPINFOHEADER docs): encoded runs (count, index),
        # absolute chunks (00, count, bytes..., pad-to-even), 00 00 =
        # end of line, 00 01 = end of bitmap, 00 02 = delta (gated)
        idx = np.zeros((h, w), dtype=np.uint8)
        pos = data_off
        x = 0
        row = 0
        while True:
            if pos + 2 > len(raw):
                raise ValueError("truncated RLE8 stream")
            a, b = raw[pos], raw[pos + 1]
            pos += 2
            if a > 0:
                if row >= h or x + a > w:
                    raise ValueError("RLE8 run overruns the raster")
                idx[row, x:x + a] = b
                x += a
            elif b == 0:
                row += 1
                x = 0
                if row > h:
                    raise ValueError("RLE8 EOL beyond raster")
            elif b == 1:
                break
            elif b == 2:
                raise ValueError("RLE8 delta escapes unsupported")
            else:
                if row >= h or x + b > w:
                    raise ValueError("RLE8 absolute run overruns")
                if pos + b > len(raw):
                    raise ValueError("truncated RLE8 absolute run")
                idx[row, x:x + b] = np.frombuffer(
                    raw, dtype=np.uint8, count=b, offset=pos)
                x += b
                pos += b + (b & 1)  # pad to even
        rows = idx if top_down else idx[::-1]
        if int(rows.max(initial=0)) >= len(palette):
            raise ValueError("RLE8 index beyond palette")
        out = palette[rows]
    else:
        bypp = bpp // 8
        stride = (w * bypp + 3) & ~3
        need = data_off + stride * h
        if need > len(raw):
            raise ValueError("truncated BMP pixel array")
        arr = np.frombuffer(
            raw, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)
        if bpp == 8:
            rows = arr[:, :w]
            if not top_down:
                rows = rows[::-1]
            if int(rows.max(initial=0)) >= len(palette):
                raise ValueError("palette index beyond palette")
            out = palette[rows]
        else:
            px = arr[:, :w * bypp].reshape(h, w, bypp)
            if not top_down:
                px = px[::-1]
            out = px[:, :, :3][:, :, ::-1].copy()  # BGR(X) -> RGB
    return w, h, 3, out


BMP_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("bpp_channels", IntegerType()),
    StructField("rgb_sum", LongType()),
    StructField("mean_px", DoubleType()),
    StructField("decode_error", StringType()),
])


def decode_bmp_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`_parse_bmp` — exact
    integer RGB sum + one double division; per-payload quarantine."""

    def _parse(payload) -> dict:
        w, h, c, px = _parse_bmp(bytes(payload))
        ps = int(px.sum(dtype=np.int64))
        return {"width": w, "height": h, "bpp_channels": c, "rgb_sum": ps,
                "mean_px": round(ps / px.size, 6)}

    return decode_map(df, _parse, BMP_META_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL baseline TIFF decode (TIFF 6.0, public spec): BOTH byte orders
# (II little- / MM big-endian — the only fixture family that
# exercises endian-parameterized field reads), first-IFD tag walk
# with inline-vs-offset value resolution, multi-strip rasters
# (RowsPerStrip/StripOffsets/StripByteCounts), 8-bit grayscale and
# RGB, Compression 1 (none) and 32773 (PackBits RLE — literal runs,
# repeat runs, the 128 noop). Honest gates (named errors): tiles,
# LZW/JPEG/deflate compressions, PlanarConfiguration 2, palette
# photometric, depths other than 8.
# ---------------------------------------------------------------------------


def _packbits_decode(data: bytes, expect: int) -> bytes:
    out = bytearray()
    pos = 0
    while len(out) < expect:
        if pos >= len(data):
            raise ValueError("truncated PackBits stream")
        n = data[pos]
        pos += 1
        if n < 128:
            if pos + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n == 128:
            continue  # noop
        else:
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
    if len(out) != expect:
        raise ValueError("PackBits run overruns the strip")
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §13 LZW: codes packed MSB-first starting at 9 bits,
    fixed clear=256/EOI=257, and the EARLY-CHANGE width bump (the
    code width grows when the NEXT entry to be added would be
    2^width - 1 — one code earlier than the GIF convention, which is
    the whole reason this is a separate function from
    :func:`_gif_lzw_decode`). Table semantics otherwise identical
    (string table, KwKwK case, CLEAR resets)."""
    clear, eoi = 256, 257
    base = _lzw_base_table(clear)
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    width = 9
    table: "list[bytes]" = list(base)
    prev: "bytes | None" = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before EOI")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == clear:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} out of range")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1  # early change: bump BEFORE code 2^w - 1
        prev = entry
        if len(out) > expected:
            raise ValueError("LZW produced more bytes than the strip")
    if len(out) != expected:
        raise ValueError(
            f"LZW produced {len(out)} bytes, expected {expected}")
    return bytes(out)


def _tiff_unpredict2(data: bytes, row_bytes: int, spp: int) -> bytes:
    """TIFF Predictor 2 (horizontal differencing, 8-bit): add the
    previous sample of the same channel within each row."""
    arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, row_bytes)
    arr = np.cumsum(arr.reshape(arr.shape[0], -1, spp), axis=1,
                    dtype=np.int64) % 256
    return arr.astype(np.uint8).tobytes()


def _parse_tiff(raw: bytes) -> "tuple[int, int, int, np.ndarray]":
    """Returns (width, height, channels, HxWxC uint8 raster)."""
    if len(raw) < 8:
        raise ValueError("truncated TIFF header")
    if raw[:2] == b"II":
        bo = "little"
    elif raw[:2] == b"MM":
        bo = "big"
    else:
        raise ValueError("TIFF byte-order mark missing")

    def u(pos, n):
        if pos + n > len(raw):
            raise ValueError("TIFF field beyond end of file")
        return int.from_bytes(raw[pos:pos + n], bo)

    if u(2, 2) != 42:
        raise ValueError("TIFF magic 42 missing")
    ifd = u(4, 4)
    n_entries = u(ifd, 2)
    if n_entries > 512:
        raise ValueError("IFD entry count exceeds resource bound")
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        ep = ifd + 2 + 12 * i
        tag = u(ep, 2)
        typ = u(ep + 2, 2)
        count = u(ep + 4, 4)
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            continue  # rational/ASCII metadata tags: skip
        # resource bound on untrusted input: a crafted count would
        # otherwise force count*entries value reads
        if count > 65_536:
            raise ValueError("TIFF tag count exceeds resource bound")
        if count * size <= 4:
            vals = [u(ep + 8 + j * size, size) for j in range(count)]
        else:
            off = u(ep + 8, 4)
            vals = [u(off + j * size, size) for j in range(count)]
        tags[tag] = vals
    try:
        w = tags[256][0]
        h = tags[257][0]
        if 322 in tags or 323 in tags:
            offsets = counts = None  # tile tables read below
        else:
            offsets = tags[273]
            counts = tags[279]
    except KeyError as e:
        raise ValueError(f"TIFF missing required tag {e}") from e
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8])
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    rps = tags.get(278, [h])[0]
    planar = tags.get(284, [1])[0]
    tiled = bool(tags.get(322) or tags.get(323))
    if planar != 1:
        raise ValueError("PlanarConfiguration 2 unsupported")
    if any(b != 8 for b in bits):
        raise ValueError(f"TIFF bit depths {bits} unsupported (8 only)")
    if photo not in (1, 2):
        raise ValueError(f"TIFF photometric {photo} unsupported")
    if comp not in (1, 5, 32773):
        raise ValueError(f"TIFF compression {comp} unsupported")
    predictor = tags.get(317, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} unsupported")
    if spp not in (1, 3) or (photo == 2) != (spp == 3):
        raise ValueError("TIFF samples/photometric mismatch")
    if w <= 0 or h <= 0 or w * h > 50_000_000:
        raise ValueError("TIFF dimensions invalid or exceed bound")
    if tiled:
        # TIFF 6.0 §15: TileWidth/TileLength multiples of 16; tiles
        # are full-size (edge tiles padded), row-major tile order
        try:
            tw = tags[322][0]
            th = tags[323][0]
            offsets = tags[324]
            counts = tags[325]
        except KeyError as e:
            raise ValueError(f"TIFF missing required tile tag {e}") \
                from e
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError("TIFF tile dimensions invalid")
        ta = (w + tw - 1) // tw
        td = (h + th - 1) // th
        if len(offsets) != ta * td or len(counts) != ta * td:
            raise ValueError("TIFF tile table length mismatch")
        trow = tw * spp
        raster = np.zeros((h, w * spp), dtype=np.uint8)
        for ti, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(raw):
                raise ValueError("TIFF tile beyond end of file")
            data = raw[off:off + cnt]
            if comp == 32773:
                data = _packbits_decode(data, th * trow)
            elif comp == 5:
                data = _tiff_lzw_decode(data, th * trow)
            if len(data) < th * trow:
                raise ValueError("TIFF tile shorter than its rows")
            data = data[:th * trow]
            if predictor == 2:
                data = _tiff_unpredict2(data, trow, spp)
            ty, tx = divmod(ti, ta)
            y0 = ty * th
            x0 = tx * trow
            rows_n = min(th, h - y0)
            cols_n = min(trow, w * spp - x0)
            tile = np.frombuffer(data, dtype=np.uint8).reshape(th, trow)
            raster[y0:y0 + rows_n, x0:x0 + cols_n] = \
                tile[:rows_n, :cols_n]
        return w, h, spp, raster.reshape(h, w, spp)
    if len(offsets) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    row_bytes = w * spp
    body = bytearray()
    rows_left = h
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip_rows = min(rps, rows_left)
        if off + cnt > len(raw):
            raise ValueError("TIFF strip beyond end of file")
        data = raw[off:off + cnt]
        if comp == 32773:
            data = _packbits_decode(data, strip_rows * row_bytes)
        elif comp == 5:
            data = _tiff_lzw_decode(data, strip_rows * row_bytes)
        if len(data) < strip_rows * row_bytes:
            raise ValueError("TIFF strip shorter than its rows")
        data = data[:strip_rows * row_bytes]
        if predictor == 2:
            data = _tiff_unpredict2(data, row_bytes, spp)
        body += data
        rows_left -= strip_rows
    if rows_left != 0:
        raise ValueError("TIFF strips do not cover the image height")
    px = np.frombuffer(bytes(body), dtype=np.uint8).reshape(h, w, spp)
    return w, h, spp, px


TIFF_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("px_sum", LongType()),
    StructField("mean_px", DoubleType()),
    StructField("decode_error", StringType()),
])


def decode_tiff_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`_parse_tiff` — exact
    integer pixel sum + one double division; per-payload quarantine."""

    def _parse(payload) -> dict:
        w, h, c, px = _parse_tiff(bytes(payload))
        ps = int(px.sum(dtype=np.int64))
        return {"width": w, "height": h, "channels": c, "px_sum": ps,
                "mean_px": round(ps / px.size, 6)}

    return decode_map(df, _parse, TIFF_META_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL ICO decode (Windows icon resource, public layout): ICONDIR +
# 16-byte directory entries, per-image payloads that are either
# whole PNG files (modern icons — chained through the REAL PNG
# pipeline above) or BITMAPINFOHEADER DIBs with the icon quirks:
# biHeight DOUBLED (XOR color rows + the 1-bit AND transparency
# mask, both bottom-up, rows padded to 4 bytes). Gates (named
# errors): cursor resources (type 2), DIB depths other than 24/32,
# compressed DIBs.
# ---------------------------------------------------------------------------


def _parse_ico_dib(raw: bytes) -> "tuple[int, int, np.ndarray, int]":
    """ICO-embedded DIB -> (w, h, HxWx3 RGB raster, n_transparent
    pixels per the AND mask)."""
    if len(raw) < 40:
        raise ValueError("truncated ICO DIB header")
    hsize = int.from_bytes(raw[0:4], "little")
    if hsize != 40:
        raise ValueError(f"ICO DIB header size {hsize} unsupported")
    w = int.from_bytes(raw[4:8], "little", signed=True)
    h2 = int.from_bytes(raw[8:12], "little", signed=True)
    bpp = int.from_bytes(raw[14:16], "little")
    comp = int.from_bytes(raw[16:20], "little")
    if comp != 0:
        raise ValueError("compressed ICO DIB unsupported")
    if bpp not in (24, 32):
        raise ValueError(f"ICO DIB depth {bpp} unsupported")
    if h2 % 2 or h2 <= 0 or w <= 0:
        raise ValueError("ICO DIB height must be positive and doubled")
    h = h2 // 2
    if w * h > 1_000_000:
        raise ValueError("ICO DIB dimensions exceed resource bound")
    bypp = bpp // 8
    xor_stride = (w * bypp + 3) & ~3
    and_stride = ((w + 31) // 32) * 4
    need = 40 + xor_stride * h + and_stride * h
    if need > len(raw):
        raise ValueError("truncated ICO DIB pixel data")
    xor = np.frombuffer(raw, dtype=np.uint8, count=xor_stride * h,
                        offset=40).reshape(h, xor_stride)
    px = xor[:, :w * bypp].reshape(h, w, bypp)[::-1]
    rgb = px[:, :, :3][:, :, ::-1].copy()  # BGR(X) -> RGB
    mask = np.frombuffer(raw, dtype=np.uint8, count=and_stride * h,
                         offset=40 + xor_stride * h
                         ).reshape(h, and_stride)[::-1]
    bits = np.unpackbits(mask, axis=1)[:, :w]
    return w, h, rgb, int(bits.sum())


def _parse_ico(raw: bytes) -> list[dict]:
    """ICONDIR walk -> [{w, h, kind, rgb_sum, n_transparent}]."""
    if len(raw) < 6:
        raise ValueError("truncated ICONDIR")
    reserved = int.from_bytes(raw[0:2], "little")
    rtype = int.from_bytes(raw[2:4], "little")
    count = int.from_bytes(raw[4:6], "little")
    if reserved != 0:
        raise ValueError("ICONDIR reserved field nonzero")
    if rtype == 2:
        raise ValueError("cursor resources (.cur) unsupported")
    if rtype != 1:
        raise ValueError(f"ICONDIR type {rtype} invalid")
    if count == 0 or count > 1024:
        raise ValueError("ICONDIR image count invalid")
    images = []
    for i in range(count):
        e = 6 + 16 * i
        if e + 16 > len(raw):
            raise ValueError("truncated ICONDIR entry")
        size = int.from_bytes(raw[e + 8:e + 12], "little")
        off = int.from_bytes(raw[e + 12:e + 16], "little")
        if off + size > len(raw):
            raise ValueError("ICO image data overruns the file")
        blob = raw[off:off + size]
        if blob[:8] == _PNG_SIG:
            w, h, c, px = _parse_png(blob)
            # _parse_png returns a flat per-sample vector
            samples = px.reshape(h, w, c)
            if c == 1:
                rgb_sum = int(samples.sum(dtype=np.int64)) * 3
            else:
                rgb_sum = int(samples[:, :, :3].sum(dtype=np.int64))
            images.append({"w": w, "h": h, "kind": "png",
                           "rgb_sum": rgb_sum, "n_transparent": 0})
        else:
            w, h, rgb, ntr = _parse_ico_dib(blob)
            images.append({"w": w, "h": h, "kind": "dib",
                           "rgb_sum": int(rgb.sum(dtype=np.int64)),
                           "n_transparent": ntr})
    return images


ICO_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_images", IntegerType()),
    StructField("n_png", IntegerType()),
    StructField("n_dib", IntegerType()),
    StructField("width_sum", LongType()),
    StructField("height_sum", LongType()),
    StructField("rgb_sum", LongType()),
    StructField("transparent_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_ico_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`_parse_ico` — PNG
    members chained through the real PNG pipeline, DIB members with
    the doubled-height XOR/AND layout; per-payload quarantine."""

    def _parse(payload) -> dict:
        imgs = _parse_ico(bytes(payload))
        return {"n_images": len(imgs),
                "n_png": sum(1 for im in imgs if im["kind"] == "png"),
                "n_dib": sum(1 for im in imgs if im["kind"] == "dib"),
                "width_sum": sum(im["w"] for im in imgs),
                "height_sum": sum(im["h"] for im in imgs),
                "rgb_sum": sum(im["rgb_sum"] for im in imgs),
                "transparent_sum": sum(im["n_transparent"] for im in imgs)}

    return decode_map(df, _parse, ICO_META_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)
