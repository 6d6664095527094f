"""REAL video container support: YUV4MPEG2 (Y4M), the public
uncompressed interchange format (plain-text stream header + per-frame
``FRAME\\n`` markers + raw planes) — pure stdlib/numpy, the video
analog of the WAV container in functions/audio.py. Mono (grayscale)
colorspace only; compressed codecs (h264/vp9/...) need ffmpeg-class
libraries this package does not depend on, so ``sample_frames`` skips those
rows — a production deployment adds a decoder, the Spark-side plumbing
below is unchanged.

``sample_frames`` is the real frame-sampling operator: decode the Y4M
stream per row on ``session.map_rows``, keep every Nth frame, and
re-encode each kept frame as a REAL PNG (functions/png.py) — one binary
row in, many binary rows out, each of which the image pipeline can
consume (multimodal.image_features decodes them right back).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from mds_provider_spark.functions.png import encode_png
from mds_provider_spark.session import map_rows


def encode_y4m(frames: np.ndarray, fps: int = 30) -> bytes:
    """(n, h, w) uint8 grayscale frames -> YUV4MPEG2 mono stream."""
    if frames.ndim != 3:
        raise ValueError("frames must be (n, h, w)")
    n, h, w = frames.shape
    parts = [f"YUV4MPEG2 W{w} H{h} F{int(fps)}:1 Ip A1:1 Cmono\n".encode("ascii")]
    for f in frames:
        parts.append(b"FRAME\n")
        parts.append(np.ascontiguousarray(f, dtype=np.uint8).tobytes())
    return b"".join(parts)


def decode_y4m(buf: bytes, step: int = 1) -> tuple[np.ndarray, tuple[int, int]]:
    """Y4M stream -> ((ceil(n/step), h, w) uint8 frames, fps).

    ``step`` keeps only frames 0, step, 2step, ... WITHOUT materializing
    the rest (frombuffer views; only kept frames are copied by the final
    stack) — the memory lever for frame sampling over long videos. ALL
    frame markers and payload lengths are still walked and validated.

    Strict per the layered-validation contract: wrong magic, unsupported
    colorspace, a malformed FRAME marker, or a truncated frame payload
    all raise (callers fault-isolate per row, as with every decoder).
    Note the format itself carries no frame count, so a cut EXACTLY at a
    frame boundary is indistinguishable from a shorter video — mid-frame
    truncation is what gets detected."""
    if step < 1:
        raise ValueError("step must be >= 1")
    nl = buf.find(b"\n")
    if nl < 0 or not buf.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    fps = (30, 1)
    cs = "420"  # the spec's default when no C token is present
    for tok in buf[:nl].decode("ascii").split()[1:]:
        key, val = tok[0], tok[1:]
        if key == "W":
            w = int(val)
        elif key == "H":
            h = int(val)
        elif key == "F":
            num, den = val.split(":")
            fps = (int(num), int(den))
        elif key == "C":
            cs = val
    if w is None or h is None or w <= 0 or h <= 0:
        raise ValueError("missing/invalid W or H in Y4M header")
    if cs != "mono":
        raise ValueError(f"unsupported Y4M colorspace {cs!r} (mono only)")
    frame_size = w * h
    frames: list[np.ndarray] = []
    pos = nl + 1
    idx = 0
    while pos < len(buf):
        fnl = buf.find(b"\n", pos)
        if fnl < 0 or not buf[pos:fnl].startswith(b"FRAME"):
            raise ValueError("malformed FRAME marker")
        pos = fnl + 1
        data = buf[pos : pos + frame_size]
        if len(data) < frame_size:
            raise ValueError("truncated frame payload")
        if idx % step == 0:
            frames.append(np.frombuffer(data, dtype=np.uint8).reshape(h, w))
        idx += 1
        pos += frame_size
    out = np.stack(frames) if frames else np.zeros((0, h, w), dtype=np.uint8)
    return out, fps


def sample_frames(
    df: DataFrame,
    every_nth: int = 2,
    key_col: str = "item_id",
    bytes_col: str = "bytes",
    format_col: str = "format",
) -> DataFrame:
    """Video frame sampling, REAL end to end for Y4M: decode the stream,
    keep frames 0, N, 2N, ..., and emit each as a PNG binary —
    (item_id, frame_idx, height, width, frame_png); the id is cast to
    string in the select and NULL ids are kept. Undecodable rows and
    non-Y4M formats are skipped (layered contract: the enum rule flags
    them upstream; one corrupt video must not kill a 10^12-row pass).
    Row count multiplies by n_frames/every_nth — the fan-out shape the
    training-data frame-sample stage needs."""
    if every_nth < 1:
        # fail fast on the driver: inside the workers this would kill
        # every task holding a valid row, not fault-isolate
        raise ValueError("every_nth must be >= 1")

    def per_row(iid, buf, fmt):
        if buf is None or fmt != "y4m":
            return ()
        try:
            # step-decode: only kept frames are materialized
            frames, _fps = decode_y4m(buf, step=every_nth)
        except Exception:
            return ()
        return [(iid, i * every_nth, int(f.shape[0]), int(f.shape[1]),
                 encode_png(f[:, :, None])) for i, f in enumerate(frames)]

    return map_rows(
        df, [F.col(key_col).cast("string").alias("item_id"), bytes_col, format_col],
        per_row,
        "item_id string, frame_idx int, height int, width int, frame_png binary",
    )
