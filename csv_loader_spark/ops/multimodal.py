"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Design (the part that must be right at 100 TB):
- media lives in a ``binary`` column next to typed metadata
  (``media_type``, ``width``, ``height``, ``duration_ms``) — one row per
  asset, co-partitioned with its document so joins are local;
- every transform is ``mapInPandas`` over an iterator of Arrow batches:
  executors stream batches, nothing materializes a partition in memory,
  Python cost is amortized per-batch not per-row;
- heavy decode libraries are imported INSIDE the UDF (executor-side),
  gated, and stubbed deterministically when absent.

This container ships no image/audio libraries, so decoding is tiered:
PIL when importable (gated upgrade), a REAL pure-Python decoder for
uncompressed 24-bit BMP payloads (``_decode_bmp`` — magic sniff, header
parse, padding-aware pixel mean; exercised end-to-end through mapInPandas
in tests/test_multimodal.py), and a clearly-marked deterministic
pseudo-decode for every other byte stream so tests stay stable. The
Spark-side contract — schemas, batch iteration, partitioning — is real
and tested either way.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("decoded_width", T.IntegerType()),
        T.StructField("decoded_height", T.IntegerType()),
    ]
)


def attach_fake_media(documents: DataFrame) -> DataFrame:
    """documents → MEDIA_SCHEMA rows with deterministic fake payloads (the
    UTF-8 text bytes) and metadata derived from doc_id. Stands in for a real
    ``binaryFile`` source; the downstream plumbing is identical."""
    return documents.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
        (F.col("doc_id") % 30000).cast("int").alias("duration_ms"),
    )


def _decode_bmp(payload: bytes) -> tuple[int, int, float] | None:
    """REAL decode of an uncompressed 24-bit BMP (BITMAPINFOHEADER), pure
    Python: returns (width, height, mean over the BGR pixel bytes —
    row padding excluded). None if the payload isn't such a BMP."""
    import struct as _struct

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    pix_off = _struct.unpack_from("<I", payload, 10)[0]
    hdr_size = _struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:  # BITMAPCOREHEADER etc. — not handled
        return None
    w, h = _struct.unpack_from("<ii", payload, 18)
    bpp = _struct.unpack_from("<H", payload, 28)[0]
    compression = _struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    rows = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    if pix_off + stride * rows > len(payload):
        return None
    total = n = 0
    for r in range(rows):
        row = payload[pix_off + r * stride : pix_off + r * stride + w * 3]
        total += sum(row)
        n += len(row)
    return w, rows, (total / n if n else 0.0)


def _decode_pil(payload: bytes) -> tuple[int, int, float] | None:
    """Gated PIL decode: returns (width, height, mean over the RGB channel
    bytes) when PIL is importable AND can open the payload; None otherwise
    (library absent, or bytes PIL can't parse — e.g. the deterministic fake
    payloads). For 24-bit BMPs the RGB byte mean equals :func:`_decode_bmp`'s
    BGR byte mean (same multiset of bytes), so the two tiers agree and the
    oracle stays engine-independent."""
    try:
        from PIL import Image  # type: ignore
    except ImportError:
        return None
    import io as _io

    try:
        with Image.open(_io.BytesIO(payload)) as img:
            rgb = img.convert("RGB")
            w, h = rgb.size
            data = rgb.tobytes()
            return w, h, (sum(data) / len(data) if data else 0.0)
    except Exception:
        # PIL present but payload isn't an image it understands — fall
        # through to the BMP/pseudo tiers rather than failing the pipeline.
        return None


def _decode_one(payload: bytes, width: int, height: int) -> tuple[int, int, float]:
    """Tiered decode: PIL (when importable — a real upgrade, never an
    error) → real BMP parse → deterministic pseudo-decode fallback (pseudo
    path: metadata dims + whole-payload byte mean) so non-image bytes still
    produce stable features."""
    payload = bytes(payload) if payload else b""
    pil = _decode_pil(payload)
    if pil is not None:
        return pil
    bmp = _decode_bmp(payload)
    if bmp is not None:
        return bmp
    mean = sum(payload) / len(payload) if payload else 0.0
    return width or 0, height or 0, mean


def extract_features(media: DataFrame) -> DataFrame:
    """Per-asset features via Arrow-batched mapInPandas (FEATURE_SCHEMA).

    Scale shape: one pass, no shuffle; Python sees pandas batches (default
    ~10k rows), never single rows; output is columnar Arrow back to the JVM.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                _decode_one(p, w, h)
                for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "content_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    # round half-AWAY-from-zero like SQL round(); Python's
                    # built-in round() is banker's and diverges at .00005
                    "mean_byte": [math.floor(d[2] * 1e4 + 0.5) / 1e4 for d in decoded],
                    "decoded_width": [d[0] for d in decoded],
                    "decoded_height": [d[1] for d in decoded],
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Audio plumbing: real RIFF/WAVE PCM16 synth + parse + features
# ---------------------------------------------------------------------------

AUDIO_SR = 8000  # synth sample rate; n_samples kept divisible by 8 so
#                  duration_ms = n/8 is exact integer milliseconds

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synth_wav_params(doc_id: int) -> tuple[int, int, int]:
    """(n_samples, half_period, amplitude) for the deterministic square
    wave synthesized for ``doc_id`` — the closed forms the q206 oracle
    reuses: RMS == amplitude, zero_crossings == (n-1) // half_period."""
    n = 800 + (doc_id % 5) * 160
    half = 8 + (doc_id % 7)
    amp = 8000 + (doc_id % 9) * 500
    return n, half, amp


def _synth_wav_bytes(doc_id: int) -> bytes:
    """A REAL minimal RIFF/WAVE file: PCM16 mono square wave."""
    import struct

    import numpy as np

    n, half, amp = synth_wav_params(doc_id)
    idx = np.arange(n)
    data = np.where((idx // half) % 2 == 0, amp, -amp).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, AUDIO_SR, AUDIO_SR * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def attach_fake_audio(documents: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): Arrow-batched synthesis of real WAV
    bytes (the stand-in for reading an audio lake; the parse side below
    never sees anything but the bytes)."""

    def _gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _synth_wav_bytes(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    return documents.select("doc_id").mapInPandas(_gen, schema=AUDIO_SCHEMA)


def parse_wav(payload: bytes) -> tuple[int, "list[int]"] | None:
    """REAL RIFF/WAVE parse, pure stdlib: walks the chunk list, reads
    'fmt ' (PCM16 mono only) and 'data', returns (sample_rate, samples).
    None for anything malformed — callers surface rejects, never crash.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, sr, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            return None  # truncated chunk — malformed, reject loudly
        if cid == b"fmt " and clen >= 16:
            _fmt, channels, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen % 2)
    if sr is None or data is None or bits != 16 or channels != 1:
        return None
    import numpy as np

    n = len(data) // 2
    samples = np.frombuffer(data[: n * 2], dtype="<i2")
    return sr, samples


def audio_features(media: DataFrame) -> DataFrame:
    """(doc_id, payload) → per-asset features computed FROM THE BYTES
    (real parse; malformed payloads yield parse_ok = false with nulls):
    sample rate, sample count, exact duration_ms, RMS, zero crossings,
    peak amplitude. Arrow-batched mapInPandas — the only Python in the
    plan, amortized per batch."""
    import math as _math

    out_schema = (
        "doc_id long, parse_ok boolean, sr int, n_samples int, "
        "duration_ms int, rms double, zero_crossings int, peak int"
    )

    def _feat(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                parsed = parse_wav(bytes(payload)) if payload is not None else None
                if parsed is None:
                    rows.append((int(doc_id), False, None, None, None, None, None, None))
                    continue
                sr, s = parsed
                import numpy as np

                arr = np.asarray(s, dtype=np.int64)
                n = len(arr)
                rms = _math.sqrt(float((arr * arr).sum()) / n) if n else 0.0
                zc = int((arr[:-1] * arr[1:] < 0).sum()) if n > 1 else 0
                peak = int(np.abs(arr).max()) if n else 0
                rows.append(
                    (
                        int(doc_id),
                        True,
                        int(sr),
                        n,
                        int(n * 1000 // sr),
                        float(rms),
                        int(zc),
                        int(peak),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "parse_ok", "sr", "n_samples", "duration_ms",
                    "rms", "zero_crossings", "peak",
                ],
            )

    return media.mapInPandas(_feat, schema=out_schema)
