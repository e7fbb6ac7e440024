"""Multimodal column plumbing (task brief: image/audio/video as opaque
binary columns + typed metadata, processed with Arrow-batched Pandas
UDFs over mapInPandas).

The container ships no image/audio codecs, so the DECODE step is a
stand-in: a deployment swaps a real codec (PIL/ffmpeg) into the
per-batch extractor of ``media_features`` without touching any Spark
plumbing.

- ``media_features`` — the Spark-side pipeline that IS real and tested:
  schema handling, Arrow batch iteration, per-batch vectorized work, and
  a deterministic byte-level feature extractor (size + md5 + md5-derived
  pseudo width/height) standing in for the codec. Because the features
  are pure functions of the bytes, the whole path is oracle-checkable
  against DuckDB SQL on the same bytes.

Scale notes: binary payloads ride in the same parquet row groups as the
metadata; mapInPandas streams Arrow batches so executor memory is
bounded by batch size (spark.sql.execution.arrow.maxRecordsPerBatch),
not file size — at 100 TB, tune that plus maxPartitionBytes so a
partition of large blobs still fits. Feature extraction is map-only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: output schema of media_features — pin explicitly, UDF outputs are
#: never inferred.
FEATURE_SCHEMA = (
    "doc_id bigint, modality string, n_bytes bigint, "
    "content_md5 string, width int, height int"
)


def attach_binary(df: DataFrame, id_col: str, text_col: str, modality: str = "image") -> DataFrame:
    """Build a multimodal table: (id, modality, content binary, meta).

    Fixtures have no real blobs, so content = utf-8 bytes of the text
    column — the plumbing (binary column, typed meta struct, batch
    shapes) is identical for real media.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(modality).alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.struct(
            F.length(F.col(text_col)).cast("bigint").alias("n_chars_meta")
        ).alias("meta"),
    )


def media_features(mm: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Emits size, md5, and md5-derived pseudo dimensions (stand-ins for
    decoded width/height — same signature and batch shape a real decoder
    produces). Pure function of the bytes → DuckDB twin exists.
    """

    def extract(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            digests = [
                hashlib.md5(bytes(c)).hexdigest() for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "content_md5": digests,
                    "width": [int(d[0:2], 16) % 64 + 16 for d in digests],
                    "height": [int(d[2:4], 16) % 64 + 16 for d in digests],
                }
            )

    return mm.mapInPandas(extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_offset_ms bigint, frame_md5 string"
)
#: frames sampled per media row
N_FRAMES = 4
#: longest side of a planned resize box
MAX_SIDE = 32


def sample_frames(mm: DataFrame) -> DataFrame:
    """Frame sampling plumbing: each media row fans out to ``N_FRAMES``
    rows with deterministic offsets (md5-derived duration stand-in,
    evenly spaced — exactly the shape a real ffmpeg-backed sampler
    yields, one row per decoded frame). Pure function of the bytes →
    SQL twin exists. Fan-out is the scale knob: output rows =
    N_FRAMES × input rows, so partition AFTER sampling when frames are
    heavy."""

    def extract(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_offset_ms": [], "frame_md5": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(content)
                d = hashlib.md5(b).hexdigest()
                duration_ms = int(d[4:8], 16) % 60_000 + 1_000  # fake probe
                step = duration_ms // N_FRAMES
                for i in range(N_FRAMES):
                    off = i * step
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_offset_ms"].append(off)
                    # hex-string domain so the DuckDB twin can recompute
                    # it (md5(BLOB) does not exist there)
                    rows["frame_md5"].append(
                        hashlib.md5(f"{d}-{off}".encode()).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return mm.mapInPandas(extract, schema=FRAME_SCHEMA)


def resize_plan(features: DataFrame) -> DataFrame:
    """Resize planning over extracted dimensions: compute the integer
    target box (longest side → ``MAX_SIDE``, aspect preserved via exact
    integer arithmetic — no float rounding ambiguity cross-engine). The
    pixel resample itself belongs to the codec; this is the
    distributed part that decides what every worker does."""
    w, h = F.col("width"), F.col("height")
    longest = F.greatest(w, h)
    return features.select(
        "doc_id",
        "width",
        "height",
        F.floor((w * MAX_SIDE) / longest).cast("int").alias("out_width"),
        F.floor((h * MAX_SIDE) / longest).cast("int").alias("out_height"),
        F.lit(MAX_SIDE).alias("scale_num"),
        longest.cast("int").alias("scale_den"),
    )
