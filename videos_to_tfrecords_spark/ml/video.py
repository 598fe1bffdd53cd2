"""Video decode → frame rows (the reference's VideoToFrames UDTF).

Reference parity (preprocess.py:156-189): per filename, open the video
(there: cv2.VideoCapture over a V4 signed URL, preprocess.py:131-153,162-166),
iterate frames keeping one per ``skip_msec`` (the read-side temporal
downsample P8, preprocess.py:172-177), normalize /255 + BGR→RGB (P7,
preprocess.py:178-180), emit one row per kept frame with timestamp_ms,
rounded fps and frame_total (preprocess.py:181-187); in local mode cap at 3
frames (R4, preprocess.py:170-171,186).

Spark design: a ``mapInPandas`` flat-map over (filename[, content]) rows —
1 row in, N frame rows out, Arrow-batched. ``_decode_real`` implements the
reference's cv2.VideoCapture loop over ``binaryFile`` bytes and runs when
cv2 is importable (``use_real=True``); when OpenCV is absent (as in this
container) ``decode`` falls back to a deterministic synthetic decoder that
fabricates fps/duration from the filename hash and constant pixel frames —
the Spark-side plumbing (schema, batching, flat-map shape, sampling
predicate, local cap) is identical either way and fully tested; the real
path is additionally covered by a skipif(cv2) test.

Scale: decode is embarrassingly parallel and I/O bound; feed it from
``spark.read.format("binaryFile")`` (distributed listing + streaming reads —
the signed-URL machinery of preprocess.py:131-153 is storage-connector
territory in Spark) and repartition by file count before decoding so each
task holds O(1) videos.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

try:  # pragma: no cover - cv2 not present in this container
    import cv2  # type: ignore

    HAVE_CV2 = True
except ImportError:
    cv2 = None
    HAVE_CV2 = False

FRAME_SCHEMA = (
    "filename string, label string, dataset string, image array<float>, "
    "height int, width int, channels int, "
    "timestamp_ms double, frame_per_sec double, frame_total double"
)

DEFAULT_SKIP_MSEC = 500.0  # reference run_preprocess.py:87-91
LOCAL_FRAME_CAP = 3  # reference preprocess.py:170-171


def _filename_hash(filename: str) -> int:
    return int(hashlib.md5(filename.encode()).hexdigest()[:8], 16)


def _fake_video_props(filename: str, h: int | None = None) -> tuple[float, float]:
    """Deterministic (fps, duration_ms) from the filename hash ``h``."""
    if h is None:
        h = _filename_hash(filename)
    fps = [24.0, 30.0, 60.0][h % 3]
    duration_ms = 2_000.0 + (h % 8) * 1_000.0
    return fps, duration_ms


def _decode_fake(filename: str, skip_msec: float, cloud: bool):
    """Synthetic decoder with the reference's exact control flow: advance
    pos_msec at 1000/fps per frame, keep one per skip_msec, cap in local."""
    h = _filename_hash(filename)
    fps, duration_ms = _fake_video_props(filename, h)
    frame_total = duration_ms / 1000.0 * fps
    kept, last_ts = [], None
    pos_msec, frame_idx = 0.0, 0
    while pos_msec < duration_ms:
        if last_ts is None or pos_msec >= last_ts + skip_msec:  # P8 predicate
            last_ts = pos_msec
            # 2×2×3 constant frame: value = (hash ⊕ frame_idx) scaled to [0,1]
            v = ((h ^ frame_idx) % 256) / 255.0
            image = np.full(2 * 2 * 3, v, dtype=np.float32)
            kept.append((image, 2, 2, 3, pos_msec, fps, frame_total))
            if not cloud and len(kept) >= LOCAL_FRAME_CAP:  # R4 local cap
                break
        frame_idx += 1
        pos_msec = frame_idx * (1000.0 / fps)
    return kept


def _decode_real(content: bytes | None, skip_msec: float, cloud: bool):
    """cv2 path — the reference's VideoCapture loop, control-flow-faithful
    to preprocess.py:169-190: read-ahead first frame, ``last_ts = -9999``
    so the first frame always keeps, an inner read loop that advances until
    ``POS_MSEC >= last_ts + skip_msec``, a mid-stream ``return`` at EOF
    (the partial tail frame is dropped, as in the reference), BGR→RGB and
    /255 normalization, fps rounded, and ``limit_local`` that only
    increments when not cloud (preprocess.py:187).

    Operates on in-memory bytes (from ``binaryFile``) staged to a temp
    file — cv2.VideoCapture needs a path/URL; the reference's V4
    signed-URL machinery (preprocess.py:131-153) is storage-connector
    territory in Spark. One deliberate deviation: unreadable/empty bytes
    return no frames instead of crashing (corrupt blobs are routine at
    100 TB)."""
    if not HAVE_CV2:  # pragma: no cover - exercised via decode_videos guard
        raise RuntimeError("cv2 not available: use use_real=False")
    if content is None:
        return []
    import os
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".mp4")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(bytes(content))
        video = cv2.VideoCapture(path)
        kept: list = []
        last_ts = -9999.0
        result, image = video.read()
        if not result:  # corrupt/empty: deviation, see docstring
            video.release()
            return kept
        limit_local = 0
        while video.isOpened() and limit_local < LOCAL_FRAME_CAP:
            while video.get(cv2.CAP_PROP_POS_MSEC) < skip_msec + last_ts:
                result, image = video.read()
                if not result:  # EOF mid-scan: reference returns here too
                    video.release()
                    return kept
            last_ts = video.get(cv2.CAP_PROP_POS_MSEC)
            arr = (image / 255.0)[:, :, ::-1].astype(np.float32)  # P7 + BGR→RGB
            h, w, c = arr.shape
            kept.append(
                (
                    np.ascontiguousarray(arr).ravel(),
                    h,
                    w,
                    c,
                    last_ts,
                    float(round(video.get(cv2.CAP_PROP_FPS))),
                    float(video.get(cv2.CAP_PROP_FRAME_COUNT)),
                )
            )
            limit_local = limit_local + 1 if not cloud else 0  # R4
        video.release()
        return kept
    finally:
        os.unlink(path)


def decode_videos(
    df: DataFrame,
    skip_msec: float = DEFAULT_SKIP_MSEC,
    cloud: bool = False,
    use_real: bool = False,
    spread: bool = True,
) -> DataFrame:
    """UDTF-style flat map: one input row per video → one output row per
    sampled frame (reference preprocess.py:156-189). Expects columns
    filename, label, dataset (+ optional content binary for the real path).

    ``spread`` round-robin-repartitions the file list to cluster
    parallelism first. The input is metadata-sized (one row per video) and
    routinely arrives in far fewer partitions than there are cores (a
    single parquet listing file → ONE task doing all decode work); the
    work amplification happens inside the flat-map, so a tiny shuffle of
    filename rows buys a fully parallel decode+inference stage. At sf0.1
    this took the crop-mode E2E from a 1-task decode to 32 tasks."""
    if spread:
        target = df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(target)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                if use_real and HAVE_CV2:
                    kept = _decode_real(getattr(rec, "content", None), skip_msec, cloud)
                else:
                    kept = _decode_fake(rec.filename, skip_msec, cloud)
                for image, h, w, c, ts, fps, total in kept:
                    rows.append(
                        {
                            "filename": rec.filename,
                            "label": getattr(rec, "label", None),
                            "dataset": getattr(rec, "dataset", None),
                            "image": image.tolist(),
                            "height": h,
                            "width": w,
                            "channels": c,
                            "timestamp_ms": float(ts),
                            "frame_per_sec": float(fps),
                            "frame_total": float(total),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "filename",
                    "label",
                    "dataset",
                    "image",
                    "height",
                    "width",
                    "channels",
                    "timestamp_ms",
                    "frame_per_sec",
                    "frame_total",
                ],
            )

    return df.mapInPandas(decode, FRAME_SCHEMA)


def decode_and_infer(
    df: DataFrame,
    model_factory,
    skip_msec: float = DEFAULT_SKIP_MSEC,
    cloud: bool = False,
    use_real: bool = False,
    output_col: str = "logits",
    spread: bool = True,
) -> DataFrame:
    """FUSED decode → inference in one ``mapInPandas`` pass: frames go
    straight from the decoder into ``model_factory()``'s batch predict as
    numpy, and only the (narrow) logits column crosses the Arrow boundary.

    Why fuse: the unfused chain (``decode_videos`` → ``batch_inference``)
    ships every decoded frame JVM-side and back — at real resolutions that
    is ~100× the bytes of the logits. The reference's DoFn chain has the
    same property (frames stay inside one worker, preprocess.py:156-265);
    this is its Spark twin. One Python boundary, one model init per
    worker-partition, no image column in the output schema.

    Requires a shape-homogeneous decoder (np.stack over ragged frames
    raises) — for mixed resolutions use ``decode_videos`` +
    ``batch_inference_by_shape``. Results are bit-identical to the
    unfused chain (pytest-asserted)."""
    if spread:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    out_schema = (
        "filename string, label string, dataset string, "
        "height int, width int, channels int, "
        "timestamp_ms double, frame_per_sec double, frame_total double, "
        f"{output_col} array<float>"
    )
    meta_cols = [
        "filename", "label", "dataset", "height", "width", "channels",
        "timestamp_ms", "frame_per_sec", "frame_total",
    ]

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_factory()  # per-worker-partition init ≡ DoFn.setup()
        for pdf in batches:
            metas: list[tuple] = []
            images: list[np.ndarray] = []
            for rec in pdf.itertuples(index=False):
                if use_real and HAVE_CV2:
                    kept = _decode_real(getattr(rec, "content", None), skip_msec, cloud)
                else:
                    kept = _decode_fake(rec.filename, skip_msec, cloud)
                for image, h, w, c, ts, fps, total in kept:
                    metas.append(
                        (
                            rec.filename,
                            getattr(rec, "label", None),
                            getattr(rec, "dataset", None),
                            h, w, c,
                            float(ts), float(fps), float(total),
                        )
                    )
                    images.append(image)
            if metas:
                out = model(np.stack(images))
                logits = [row.astype(np.float32).tolist() for row in out]
            else:
                logits = []
            res = pd.DataFrame(metas, columns=meta_cols)
            res[output_col] = logits
            yield res

    return df.mapInPandas(fused, out_schema)
