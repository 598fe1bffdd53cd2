"""Declared schemas + the engine's type system.

The reference declares exactly one schema — the TFRecord output schema in
features.py: primitive dtypes FLOAT/INT/BYTES/OTHER (features.py:20-23),
per-frame LIST_COLUMNS {logits: FLOAT, timestamp_ms: FLOAT}
(features.py:25-28) and per-video CONTEXT_COLUMNS {label, filename, dataset:
BYTES; frame_per_sec, frame_total: FLOAT} (features.py:30-36). Everything
else flows as schema-on-write Python dicts (SURVEY §1.1).

The engine's deliberate departure: every stage is a DataFrame with a fixed
StructType (the video chain's stages are the ``cli`` stage functions), so
Catalyst can prune/push down. Coercion rules from features.py:39-56
(scalar→list promotion, str→utf8 bytes) live in sources/tfrecord.py where
the proto is actually built.
"""

from __future__ import annotations

from pyspark.sql import types as T


class FeatureKind:
    """Dtype tags mirroring reference features.py:20-23."""

    FLOAT = "float"
    INT = "int"
    BYTES = "bytes"
    OTHER = "other"


#: Per-frame (time-ordered, repeated) columns — reference features.py:25-28.
LIST_COLUMNS: dict[str, str] = {
    "logits": FeatureKind.FLOAT,
    "timestamp_ms": FeatureKind.FLOAT,
}

#: Per-video (scalar context) columns — reference features.py:30-36.
CONTEXT_COLUMNS: dict[str, str] = {
    "label": FeatureKind.BYTES,
    "filename": FeatureKind.BYTES,
    "dataset": FeatureKind.BYTES,
    "frame_per_sec": FeatureKind.FLOAT,
    "frame_total": FeatureKind.FLOAT,
}

#: Multimodal column convention (engine extension, SURVEY §7.1 M5): payload
#: as opaque binary + typed metadata struct. Image/audio/video all use this.
MULTIMODAL_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)
