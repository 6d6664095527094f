"""Multimodal binary-column plumbing: image / video / audio as opaque
``binary`` with typed metadata, processed batch-wise over Arrow.

The Spark-side contract is REAL and tested — column-pruned selects, a
codec/modality registry, per-row decoding on ``session.map_rows`` with
fixed output schemas, batch shapes that hold at 10^12 rows. PNG decoding
is real (pure-stdlib, functions/png.py), audio decoding is real
(functions/audio.py), and RAW video is real (YUV4MPEG2 container parse +
frame sampling, functions/video.py); jpeg and COMPRESSED video decoders
need libraries this package does not depend on (PIL/opencv/ffmpeg), so
the jpeg registry entry raises ``NotImplementedError`` at decode time and
``video.sample_frames`` skips non-Y4M rows — a production deployment
swaps one dict entry.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, functions as F

from mds_provider_spark.session import map_rows

# decoder: bytes -> np.ndarray (HxWxC for images, frames x H x W x C for video)
ImageDecoder = Callable[[bytes], np.ndarray]


def _decode_image_stub(buf: bytes) -> np.ndarray:
    raise NotImplementedError(
        "no image codec library in this container; register a real decoder "
        "(e.g. PIL.Image.open) in IMAGE_DECODERS['jpeg']"
    )


def _decode_image_fake(buf: bytes) -> np.ndarray:
    """Deterministic fake for plumbing tests: bytes -> pseudo 8x8 gray."""
    arr = np.frombuffer(buf[:64].ljust(64, b"\0"), dtype=np.uint8)
    return arr.reshape(8, 8, 1)


from mds_provider_spark.functions.png import decode_png  # noqa: E402

IMAGE_DECODERS: dict[str, ImageDecoder] = {
    "png": decode_png,  # real pure-stdlib decoder (functions/png.py)
    "jpeg": _decode_image_stub,
    "fake8x8": _decode_image_fake,  # test-only deterministic modality
}


def image_features(
    df: DataFrame,
    key_col: str = "item_id",
    bytes_col: str = "bytes",
    format_col: str = "format",
) -> DataFrame:
    """binary -> (item_id, height, width, channels, mean_intensity).

    Decode errors and unregistered formats yield NULL features rather than
    failing the job (per-row fault isolation — one corrupt image must not
    kill a 10^12-row pass); the decode_ok flag feeds a validation rule.
    Exactly one row per input row; NULL ids are kept, and the id is cast
    to string in the select.
    """

    def per_row(iid, buf, fmt):
        dec = IMAGE_DECODERS.get(fmt)
        try:
            if dec is None or buf is None:
                raise NotImplementedError(fmt)
            img = dec(buf)
            return [(iid, img.shape[0], img.shape[1],
                     img.shape[2] if img.ndim > 2 else 1, float(img.mean()), True)]
        except Exception:
            return [(iid, None, None, None, None, False)]

    return map_rows(
        df, [F.col(key_col).cast("string").alias("item_id"), bytes_col, format_col],
        per_row,
        "item_id string, height int, width int, channels int, "
        "mean_intensity double, decode_ok boolean",
    )
