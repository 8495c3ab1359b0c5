"""Multimodal columns: video as an opaque binary column, sampled into
frame rows.

The reference fans binary assets (docx/pdf/images) from tar members to S3
(SURVEY.md §2.6 K6-K10) without decoding them; a training-data pipeline
additionally needs decode / feature-extract over those bytes.
`sample_frames` is that shape for video: one output row per sampled
frame, fanned out inside an Arrow-batched mapInPandas, so the bytes stay
in executor-local Arrow batches and never reach the driver. The frame
decode itself is a deterministic stand-in (the first byte of each
chunk), so a DuckDB oracle can replay the plumbing byte for byte; a real
decoder drops in at the marked line without touching the Spark plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

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
