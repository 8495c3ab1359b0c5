"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference fans binary assets (docx/pdf/images) from tar members to S3
(SURVEY.md §2.6 K6-K10) without decoding them; a training-data pipeline
additionally needs decode / feature-extract over those bytes.

Decode tiers (round 10 — the stub doctrine, partially retired):
- `decode_image_real` / `decode_audio_real` ARE real now for the formats
  the standard library can parse: PNG/BMP/PPM/PGM/GIF image metadata
  (struct/zlib-level header parsing — the actual IHDR/BITMAPINFOHEADER
  bytes, not a fake) and full PCM WAV decode (`wave`). When PIL is
  importable it is preferred for images (the production codec path,
  availability-gated); JPEG & friends without PIL raise
  NotImplementedError — still honest about what this container can do.
- `decode_image_stub` keeps the deterministic byte-derived fake for the
  DuckDB-oracle plumbing tests (SQL can replay byte arithmetic; it
  cannot parse PNG).
Everything around the kernels — schema, Arrow batching via mapInPandas,
partitioning — is identical for both tiers: bytes stay in executor-local
Arrow batches, never on the driver.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

ASSET_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("first_byte", T.IntegerType(), True),
        T.StructField("fake_width", T.IntegerType(), True),
        T.StructField("fake_height", T.IntegerType(), True),
        T.StructField("fake_channels", T.IntegerType(), True),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> channel count (spec table 11.1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_image_real(data: bytes) -> dict:
    """REAL image metadata decode: {format, width, height, channels}.

    Prefers PIL when importable (the production codec path — JPEG, WebP,
    everything); otherwise parses the container formats the standard
    library suffices for: PNG (IHDR chunk), BMP (BITMAPINFOHEADER),
    GIF (logical screen descriptor), and binary PPM/PGM headers. These
    are the actual on-disk header bytes — `struct` unpacking, not a
    byte-checksum fake — so tests assert true dimensions. Anything else
    without PIL raises NotImplementedError (honest about this
    container's codec reach)."""
    try:  # availability-gated production path
        import io

        from PIL import Image  # type: ignore

        with Image.open(io.BytesIO(data)) as im:
            return {
                "format": (im.format or "?").lower(),
                "width": int(im.width),
                "height": int(im.height),
                "channels": len(im.getbands()),
            }
    except ImportError:
        pass

    if data.startswith(_PNG_SIG) and len(data) >= 33 and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        color_type = data[25]
        ch = _PNG_CHANNELS.get(color_type)
        if ch is None:
            raise ValueError(f"PNG with invalid color type {color_type}")
        return {"format": "png", "width": w, "height": h, "channels": ch}
    if data.startswith(b"BM") and len(data) >= 30:
        # BITMAPINFOHEADER: width int32 @18, height int32 @22 (may be
        # negative for top-down rows), bit depth uint16 @28
        w, h = struct.unpack("<ii", data[18:26])
        bits = struct.unpack("<H", data[28:30])[0]
        return {
            "format": "bmp",
            "width": w,
            "height": abs(h),
            "channels": max(1, bits // 8),
        }
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return {"format": "gif", "width": w, "height": h, "channels": 3}
    if data[:2] in (b"P5", b"P6") and len(data) > 2:
        # binary PGM/PPM: ASCII header "P6 <w> <h> <maxval>" with
        # comment lines allowed
        toks: list[bytes] = []
        i = 2
        while len(toks) < 3 and i < min(len(data), 4096):
            if data[i : i + 1] == b"#":  # comment to end of line
                while i < len(data) and data[i] not in b"\r\n":
                    i += 1
            elif data[i] in b" \t\r\n":
                i += 1
            else:
                j = i
                while j < len(data) and data[j] not in b" \t\r\n":
                    j += 1
                toks.append(data[i:j])
                i = j
        if len(toks) < 2:
            raise ValueError("truncated PNM header")
        return {
            "format": "ppm" if data[:2] == b"P6" else "pgm",
            "width": int(toks[0]),
            "height": int(toks[1]),
            "channels": 3 if data[:2] == b"P6" else 1,
        }
    raise NotImplementedError(
        "no stdlib parser for this image format and PIL is not "
        "installed (PNG/BMP/GIF/PPM/PGM decode without it)"
    )


def decode_image_stub(data: bytes) -> tuple[int, int | None, int, int, int]:
    """Deterministic fake 'decode': metadata derived purely from bytes, so
    tests (and the DuckDB oracle) can verify the distributed plumbing."""
    n = len(data)
    first = data[0] if n else None
    width = n % 997
    height = (n * 31 + (first or 0)) % 997
    channels = ((first or 0) % 4) + 1
    return n, first, width, height, channels


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_offset", T.IntegerType(), False),
        T.StructField("frame_byte", T.IntegerType(), True),
        T.StructField("fake_luma", T.IntegerType(), True),
    ]
)


def sample_frames(
    assets: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "content",
    stride: int = 256,
) -> DataFrame:
    """Frame sampling over an opaque video/binary column: one OUTPUT row
    per sampled frame (fan-out inside mapInPandas — the batch shape a real
    ffmpeg frame grab would have). The 'decoded frame' is stubbed as the
    first byte of each `stride`-byte chunk; a real decoder drops in at the
    marked line without touching the Spark plan."""
    # validate at DRIVER time: stride=0 would be a per-task
    # ZeroDivisionError surfacing as an opaque PythonException mid-job,
    # and a negative stride silently reads wrong bytes
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(data) if data is not None else b""
                n_frames = (len(b) - 1) // stride + 1 if b else 0
                for i in range(n_frames):
                    off = i * stride
                    fb = b[off]  # <- real decoder call goes here
                    rows.append((int(doc_id), i, off, fb, (fb * 7) % 256))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_offset", "frame_byte", "fake_luma"],
            )

    return assets.select(id_col, bin_col).mapInPandas(_sample, FRAME_SCHEMA)


def extract_asset_metadata(assets: DataFrame, id_col: str = "doc_id", bin_col: str = "content") -> DataFrame:
    """mapInPandas over (id, binary) -> typed metadata rows. Arrow-batched:
    each batch is a pandas DataFrame of raw bytes processed executor-side.
    Uses the byte-derived STUB decode (SQL-replayable; the DuckDB oracle
    gate rides this one) — see extract_image_metadata for the real
    header decode."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(data) if data is not None else b""
                n, first, w, h, c = decode_image_stub(b)
                rows.append((int(doc_id), n, first, w, h, c))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "byte_len",
                    "first_byte",
                    "fake_width",
                    "fake_height",
                    "fake_channels",
                ],
            )

    return assets.select(id_col, bin_col).mapInPandas(_extract, ASSET_META_SCHEMA)


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def extract_image_metadata(
    assets: DataFrame, id_col: str = "doc_id", bin_col: str = "content"
) -> DataFrame:
    """REAL image-metadata extraction (decode_image_real: PIL when
    available, stdlib header parsers for PNG/BMP/GIF/PPM/PGM otherwise)
    over the same Arrow-batched plumbing as the stub variant.
    Undecodable bytes become a row with NULL dimensions and the error
    string in `decode_error` — errors-as-data, the corpus-health
    convention: one corrupt asset must not kill a 100 TB scan, and the
    failure distribution is itself a queryable signal."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(data) if data is not None else b""
                try:
                    m = decode_image_real(b)
                    rows.append(
                        (int(doc_id), len(b), m["format"], m["width"],
                         m["height"], m["channels"], None)
                    )
                except Exception as e:  # noqa: BLE001 — errors-as-data
                    rows.append(
                        (int(doc_id), len(b), None, None, None, None, str(e))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "byte_len", "format", "width", "height",
                    "channels", "decode_error",
                ],
            )

    return assets.select(id_col, bin_col).mapInPandas(_extract, IMAGE_META_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("start_sample", T.LongType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("start_ms", T.DoubleType(), False),
        T.StructField("fake_rms", T.IntegerType(), True),
    ]
)


def decode_audio_real(data: bytes) -> dict:
    """REAL audio decode for PCM WAV (standard library `wave` — no
    codec lib needed): {format, sample_rate, n_channels,
    bytes_per_sample, n_frames, pcm} where pcm is the raw interleaved
    sample bytes. Compressed formats (mp3/flac/ogg) would need
    soundfile/ffmpeg and raise NotImplementedError here — the honest
    boundary of this container."""
    import io
    import wave

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise NotImplementedError(
            "only PCM WAV decodes without soundfile/ffmpeg in this "
            "environment"
        )
    with wave.open(io.BytesIO(data), "rb") as w:
        sw = w.getsampwidth()
        if sw not in (1, 2):
            # validate HERE, not in the RMS helper: a valid 24/32-bit
            # WAV that decoded fine but blew up in _pcm_rms escaped the
            # caller's per-document error wrapping and killed the whole
            # scan with no doc id (ADVICE r10)
            raise NotImplementedError(
                f"{sw * 8}-bit PCM WAV not supported (8/16-bit only in "
                "this container)"
            )
        n = w.getnframes()
        return {
            "format": "wav",
            "sample_rate": w.getframerate(),
            "n_channels": w.getnchannels(),
            "bytes_per_sample": sw,
            "n_frames": n,
            "pcm": w.readframes(n),
        }


AUDIO_WAV_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("start_sample", T.LongType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("start_ms", T.DoubleType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def _pcm_rms(chunk: bytes, sampwidth: int) -> "float | None":
    """Root-mean-square over interleaved PCM samples (16-bit signed or
    8-bit unsigned-centered — the two `wave` PCM widths this container
    can produce); deterministic pure-Python/array arithmetic."""
    import array
    import math
    import sys

    if not chunk:
        return None
    if sampwidth == 2:
        arr = array.array("h", chunk[: len(chunk) - (len(chunk) % 2)])
        if sys.byteorder != "little":  # WAV PCM is little-endian
            arr.byteswap()
        vals = arr
    elif sampwidth == 1:
        vals = [b - 128 for b in chunk]
    else:
        raise NotImplementedError(f"{sampwidth*8}-bit PCM not supported")
    if not len(vals):
        return None
    return round(math.sqrt(sum(v * v for v in vals) / len(vals)), 6)


def audio_windows(
    assets: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "content",
    sample_rate: int = 16_000,
    bytes_per_sample: int = 2,
    window_ms: int = 1_000,
    hop_ms: int = 500,
    container: str = "raw",
) -> DataFrame:
    """Fixed-duration (optionally overlapping) windowing over an opaque
    audio column — the ASR/feature-extraction batch shape (whisper-style
    chunking, wav2vec framing): one OUTPUT row per window with exact
    sample/byte arithmetic, fanned out inside mapInPandas so the bytes
    stay in executor-local Arrow batches.

    container="raw" (default): the column holds headerless PCM at the
    CALLER-DECLARED sample_rate/bytes_per_sample, and the window 'RMS'
    is a deterministic byte checksum of its first 64 bytes — the
    SQL-replayable stub the DuckDB oracle gates.

    container="wav" (round 10): the column holds PCM WAV FILES; each
    document's own header supplies its sample rate and sample width
    (decode_audio_real — the standard library's `wave`, a REAL decode),
    windows count sample FRAMES (all channels of one instant), and
    `rms` is the true root-mean-square over every interleaved sample in
    the window. The caller's sample_rate/bytes_per_sample arguments are
    ignored — the file knows. A corrupt WAV raises naming the document
    (run a metadata health scan first; the window schema has no
    per-document error slot). Window arithmetic, tail behavior, and
    batch fan-out are identical across the two containers.

    Windows shorter than a full `window_ms` at the tail are emitted (a
    real featurizer pads); documents with no bytes yield no windows."""
    if container not in ("raw", "wav"):
        raise ValueError(f"container must be 'raw' or 'wav', got {container!r}")
    if sample_rate <= 0 or bytes_per_sample <= 0:
        raise ValueError("sample_rate and bytes_per_sample must be positive")
    if window_ms <= 0 or not 0 < hop_ms <= window_ms:
        raise ValueError(
            f"need window_ms > 0 and 0 < hop_ms <= window_ms, got "
            f"{window_ms}/{hop_ms}"
        )
    win = int(sample_rate * window_ms / 1000)
    hop = int(sample_rate * hop_ms / 1000)
    if hop < 1:
        raise ValueError("hop_ms too small for sample_rate (0 samples)")

    if container == "wav":

        def _wav_windows(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for doc_id, data in zip(pdf[id_col], pdf[bin_col]):
                    b = bytes(data) if data is not None else b""
                    if not b:
                        continue
                    try:
                        meta = decode_audio_real(b)
                    except Exception as e:  # noqa: BLE001
                        raise ValueError(
                            f"audio_windows: doc {doc_id} is not a "
                            f"decodable PCM WAV: {e}"
                        ) from e
                    sr = meta["sample_rate"]
                    fb = meta["bytes_per_sample"] * meta["n_channels"]
                    w_doc = max(1, int(sr * window_ms / 1000))
                    h_doc = max(1, int(sr * hop_ms / 1000))
                    pcm, total = meta["pcm"], meta["n_frames"]
                    i = 0
                    start = 0
                    while start < total:
                        n = min(w_doc, total - start)
                        chunk = pcm[start * fb : (start + n) * fb]
                        rows.append(
                            (
                                int(doc_id),
                                i,
                                start,
                                n,
                                start * 1000.0 / sr,
                                sr,
                                _pcm_rms(chunk, meta["bytes_per_sample"]),
                            )
                        )
                        i += 1
                        start += h_doc
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id", "window_idx", "start_sample", "n_samples",
                        "start_ms", "sample_rate", "rms",
                    ],
                )

        return assets.select(id_col, bin_col).mapInPandas(
            _wav_windows, AUDIO_WAV_WINDOW_SCHEMA
        )

    def _windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(data) if data is not None else b""
                total = len(b) // bytes_per_sample
                i = 0
                start = 0
                while start < total:
                    n = min(win, total - start)
                    off = start * bytes_per_sample
                    chunk = b[off : off + min(64, n * bytes_per_sample)]
                    rms = (sum(chunk) % 32768) if chunk else None
                    # ^ real PCM decode + feature call goes here
                    rows.append(
                        (
                            int(doc_id),
                            i,
                            start,
                            n,
                            start * 1000.0 / sample_rate,
                            rms,
                        )
                    )
                    i += 1
                    start += hop
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "window_idx",
                    "start_sample",
                    "n_samples",
                    "start_ms",
                    "fake_rms",
                ],
            )

    return assets.select(id_col, bin_col).mapInPandas(_windows, AUDIO_WINDOW_SCHEMA)
