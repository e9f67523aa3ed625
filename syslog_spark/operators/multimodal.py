"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct; decode / resize / frame-sample run as Arrow-batched ``mapInPandas``
stages. The decode libraries (PIL/ffmpeg/librosa) are not dependencies,
so there are two decoders: ``decoder="stub"`` produces a deterministic
fake (seeded from the payload digest) with the real batch shapes,
schema, and partitioning; ``decoder="numpy"`` really decodes
uncompressed BMP/PPM images and PCM16 WAV audio with numpy alone.

The Spark-side contract (what 100 TB cares about) is fully real:
  * payloads never hit the driver; batches stream through Arrow,
  * feature vectors come back as array<float> ready for the similarity
    operators (operators/similarity.py),
  * oversized payloads are skipped with an error column, not a crash.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 64

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decode_error", T.StringType()),
    ]
)


def _stub_features(payload: bytes) -> np.ndarray:
    """Deterministic fake embedding: digest-seeded unit vector. Stands in
    for a real encoder; same dtype/shape contract."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    v = rng.normal(size=FEATURE_DIM).astype(np.float32)
    return v / np.linalg.norm(v)


# --- dependency-free real decoders (decoder="numpy") ----------------------------
#
# The package does not depend on PIL/ffmpeg/librosa, but BMP (uncompressed 24-bit),
# PPM (P6) and WAV (PCM16) are simple enough to decode with numpy alone —
# so the decode path can be genuinely real for these formats instead of
# stubbed: real bytes in, content-pinned features out. Every arithmetic
# step is order-fixed so features are deterministic across runs.


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB Windows BMP -> (h, w) float32 grayscale
    (top-down row order). Rejects compressed / non-24bpp variants."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3  # rows padded to 4 bytes
    need = off + stride * h
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(payload, np.uint8, stride * h, off).reshape(
        h, stride
    )[:, : width * 3].reshape(h, width, 3)
    if not top_down:
        rows = rows[::-1]
    bgr = rows.astype(np.float32)
    # ITU-R BT.601 luma; BMP stores B,G,R
    return 0.114 * bgr[:, :, 0] + 0.587 * bgr[:, :, 1] + 0.299 * bgr[:, :, 2]


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval<=255) -> (h, w) float32 grayscale. Honors
    whitespace + '#' comments in the header."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos]
        if c == 0x23:  # '#' comment to end of line
            while pos < len(payload) and payload[pos] not in (10, 13):
                pos += 1
        elif c in (9, 10, 13, 32):
            pos += 1
        else:
            start = pos
            while pos < len(payload) and payload[pos] not in (9, 10, 13, 32, 0x23):
                pos += 1
            fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if width <= 0 or height <= 0 or not (0 < maxval <= 255):
        raise ValueError("bad PPM header")
    need = width * height * 3
    if len(payload) - pos < need:
        raise ValueError("truncated PPM pixel data")
    rgb = np.frombuffer(payload, np.uint8, need, pos).reshape(
        height, width, 3
    ).astype(np.float32)
    return 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]


def _decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE with PCM (format 1) 16-bit samples -> (mono float32
    signal, sample_rate). Walks chunks properly (fmt may not be first)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits})"
        )
    if n_channels < 1:
        raise ValueError("bad WAV channel count")
    n = len(data) // (2 * n_channels)
    if n == 0:
        raise ValueError("empty WAV data")
    samples = np.frombuffer(data, "<i2", n * n_channels).reshape(
        n, n_channels
    )
    return samples.astype(np.float32).mean(axis=1), sample_rate


def _pool_8x8(gray: np.ndarray) -> np.ndarray:
    """Resize-by-block-mean to 8x8 (uneven block edges via linspace
    splits, so any h,w >= 1 works), flattened row-major."""
    h, w = gray.shape
    ys = np.linspace(0, h, 9).round().astype(int)
    xs = np.linspace(0, w, 9).round().astype(int)
    out = np.empty((8, 8), np.float64)
    for i in range(8):
        if ys[i] >= h:
            y0, y1 = h - 1, h
        else:
            y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(8):
            if xs[j] >= w:
                x0, x1 = w - 1, w
            else:
                x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = gray[y0:min(y1, h), x0:min(x1, w)].mean()
    v = out.ravel()
    nrm = np.linalg.norm(v)
    return (v / (nrm or 1.0)).astype(np.float32)


def _audio_bands(signal: np.ndarray) -> np.ndarray:
    """64 time-segment RMS energies (log1p, L2-normalized) — the audio
    twin of 8x8 pooling. Segment RMS over fixed split points is
    order-fixed arithmetic, so the feature digests are stable across
    numpy/BLAS versions (an FFT would tie the gate to pocketfft
    internals)."""
    n = signal.size
    edges = np.linspace(0, n, 65).round().astype(int)
    x = signal.astype(np.float64)
    out = np.empty(64, np.float64)
    for i in range(64):
        a, b = edges[i], edges[i + 1]
        if b <= a:  # fewer samples than bands: reuse nearest sample
            a, b = min(a, n - 1), min(a, n - 1) + 1
        seg = x[a:b]
        out[i] = np.log1p(np.sqrt(np.mean(seg * seg)))
    nrm = np.linalg.norm(out)
    return (out / (nrm or 1.0)).astype(np.float32)


def _numpy_features(payload: bytes) -> np.ndarray:
    """Real decode dispatch by magic bytes: BMP / P6 PPM -> 8x8 pooled
    grayscale; WAV PCM16 -> 64 segment-energy bands. 64-dim float32
    unit vector either way (same contract as the stub path)."""
    if payload[:2] == b"BM":
        return _pool_8x8(_decode_bmp(payload))
    if payload[:2] == b"P6":
        return _pool_8x8(_decode_ppm(payload))
    if payload[:4] == b"RIFF":
        signal, _rate = _decode_wav_pcm16(payload)
        return _audio_bands(signal)
    raise ValueError("unrecognized payload format (want BMP/PPM/WAV)")


def extract_features(
    media: DataFrame,
    decoder: str = "stub",
    max_payload_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """media(doc_id, modality, payload, meta) -> feature vectors.

    ``decoder`` is ``"stub"`` or ``"numpy"`` (see the module docstring);
    any other value raises ``ValueError``. mapInPandas keeps decode streaming per Arrow batch (payloads never
    materialize as a whole-partition list)."""
    if decoder == "numpy":
        decode = _numpy_features
    elif decoder == "stub":
        decode = _stub_features
    else:
        raise ValueError(f"unknown decoder {decoder!r}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, errs = [], []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    errs.append("null payload")
                elif len(payload) > max_payload_bytes:
                    feats.append(None)
                    errs.append(f"payload too large: {len(payload)}")
                else:
                    try:
                        feats.append(decode(bytes(payload)).tolist())
                        errs.append(None)
                    except Exception as e:  # corrupt bytes -> error row
                        feats.append(None)
                        errs.append(f"decode failed: {e}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "feature": feats,
                    "decode_error": errs,
                }
            )

    return media.mapInPandas(fn, FEATURES_SCHEMA)


def encode_bmp(pix: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB (top-down) -> uncompressed 24-bit BMP bytes
    (bottom-up, 4-byte row padding — the standard layout)."""
    h, w, _ = pix.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), np.uint8)
    body[:, : w * 3] = pix[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    raw = body.tobytes()
    off = 54
    header = (
        b"BM"
        + (off + len(raw)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raw).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return header + raw


def encode_ppm(pix: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> binary P6 PPM bytes."""
    h, w, _ = pix.shape
    return f"P6\n{w} {h}\n255\n".encode() + pix.tobytes()


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono samples -> RIFF/WAVE PCM16 bytes."""
    data = samples.astype("<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = (
        b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def _synth_image_pixels(i: int, h: int, w: int) -> np.ndarray:
    """Deterministic integer-math test pattern (gradient + interference)
    — no float libm calls, so payload bytes are identical everywhere."""
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    r = (3 * i + 2 * x + 5 * y) % 256
    g = (7 * i + x * y // 3) % 256
    b = (11 * i + 4 * x + y) % 256
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def _synth_audio_samples(i: int, n: int) -> np.ndarray:
    """Deterministic integer sawtooth mix -> int16."""
    t = np.arange(n, dtype=np.int64)
    s = ((t * (97 + 13 * i)) % 4001 - 2000) * 12 + (
        (t * (31 + 7 * i)) % 1601 - 800
    ) * 5
    return np.clip(s, -32768, 32767).astype(np.int16)


def synth_real_media_df(spark, n: int = 96) -> DataFrame:
    """Deterministic media table whose payloads are REAL encoded bytes
    (BMP / PPM / WAV round i%3), sized non-square/non-multiple-of-8 so
    pooling exercises uneven blocks; every 16th row is a corrupt payload
    to pin the decode-error path."""
    rows = []
    for i in range(n):
        kind = i % 3
        if i % 16 == 15:
            payload = b"\xde\xad" + bytes(32)  # unrecognized magic
            rows.append(
                (f"r{i:04d}", "image", bytearray(payload),
                 (0, 0, 0, 0, "application/octet-stream"))
            )
            continue
        if kind == 0:
            h, w = 17 + i % 5, 23 + i % 7
            payload = encode_bmp(_synth_image_pixels(i, h, w))
            rows.append(
                (f"r{i:04d}", "image", bytearray(payload),
                 (w, h, 0, 1, "image/bmp"))
            )
        elif kind == 1:
            h, w = 13 + i % 6, 19 + i % 5
            payload = encode_ppm(_synth_image_pixels(i, h, w))
            rows.append(
                (f"r{i:04d}", "image", bytearray(payload),
                 (w, h, 0, 1, "image/x-portable-pixmap"))
            )
        else:
            ns = 2000 + 37 * i
            payload = encode_wav_pcm16(_synth_audio_samples(i, ns))
            rows.append(
                (f"r{i:04d}", "audio", bytearray(payload),
                 (0, 0, 16000, 0, "audio/wav"))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/bench."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * 8
        rows.append(
            (
                f"m{i:04d}",
                ("image", "audio", "video")[i % 3],
                bytearray(payload),
                (64, 64, 16000, 1 + i % 30, "application/octet-stream"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
