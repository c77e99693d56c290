"""Multimodal column plumbing: media as opaque ``binary`` columns with
typed metadata, processed through Arrow-batched ``mapInPandas``.

The Spark-side shape is real and tested — schema contract, partition-size
control, batch iteration, UDF signatures. The actual media decode is
STUBBED (``decode_image``): this environment has no image/audio libraries,
so the stub derives deterministic fake features from the bytes. Swapping in
PIL/torchvision/ffmpeg is a one-function change.

Scale notes: media rows are large — keep ``spark.sql.files.maxPartitionBytes``
modest and repartition by size before decode so one task ≈ one Arrow batch
of a few hundred MB; never collect binaries to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema contract for decode_features.
FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "width int, height int, feature array<float>"
)


def attach_fake_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a deterministic binary 'media' column from text (test stand-in
    for real image/audio bytes) plus typed metadata."""
    blob = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        blob.alias("media"),
        F.lit("image/fake").alias("media_type"),
        F.octet_length(blob).cast("long").alias("n_bytes"),
    )


def decode_image(data: bytes) -> tuple[int, int, list[float]]:
    """STUB decode: real implementation would be e.g. PIL.Image.open.
    Deterministic fake: dimensions from byte length, 8-dim byte-histogram
    feature. Raises NotImplementedError for non-fake media types upstream."""
    w = max(1, len(data) % 640)
    h = max(1, (len(data) * 7) % 480)
    hist = [0.0] * 8
    for by in data[:4096]:
        hist[by >> 5] += 1.0
    s = sum(hist) or 1.0
    return w, h, [v / s for v in hist]


def decode_features(df: DataFrame) -> DataFrame:
    """Arrow-batched decode: mapInPandas keeps whole Arrow batches in
    memory once, yields one output row per media row.

    The closure is fully self-contained (local decode function, no module
    globals): Python workers must not need ``csvtool_spark`` on their path —
    the driver may run from anywhere and executors don't inherit its
    sys.path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            bad = pdf.loc[pdf["media_type"] != "image/fake", "media_type"]
            if len(bad):
                raise NotImplementedError(
                    f"no decoder for {bad.iloc[0]} in this environment"
                )
            # Vectorized over the whole Arrow batch (semantics identical to
            # the per-row decode_image twin): geometry from byte lengths,
            # then one scatter-add builds every row's 8-bin byte histogram.
            blobs = [bytes(b)[:4096] for b in pdf["media"]]
            lens = _np.fromiter((len(bytes(b)) for b in pdf["media"]), dtype=_np.int64)
            widths = _np.maximum(1, lens % 640).astype(_np.int32)
            heights = _np.maximum(1, (lens * 7) % 480).astype(_np.int32)
            clip_lens = _np.fromiter((len(b) for b in blobs), dtype=_np.int64)
            hist = _np.zeros((len(pdf), 8), dtype=_np.float64)
            if clip_lens.sum() > 0:
                flat = _np.frombuffer(b"".join(blobs), dtype=_np.uint8)
                row_idx = _np.repeat(_np.arange(len(pdf)), clip_lens)
                _np.add.at(hist, (row_idx, flat >> 5), 1.0)
            s = hist.sum(axis=1, keepdims=True)
            s[s == 0.0] = 1.0
            feat = hist / s
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64").to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "n_bytes": pdf["n_bytes"].astype("int64").to_numpy(),
                    "width": widths,
                    "height": heights,
                    "feature": list(feat),
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video-frame sampling plumbing: explode a (stubbed) frame index list;
    the real decoder would emit per-frame binaries instead of indexes."""
    n_frames = (F.col("n_bytes") % 300 + 1).cast("int")
    idxs = F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    return df.select(
        "doc_id", F.explode(idxs).alias("frame_idx"), "media_type", "n_bytes"
    )
