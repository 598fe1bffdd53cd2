"""Test oracles for the columnar TFRecord kernel
(``videos_to_tfrecords_spark/sources/tfrecord_kernel.py``).

- The per-row SequenceExample encoder: the engine's row-at-a-time
  implementation before the kernel replaced it, kept here verbatim as the
  reference the kernel must match byte for byte (Python values in, runtime
  coercions of reference features.py:39-56).
- The scalar CRC32C and TFRecord framing, from the independent golden
  fixture generator ``tools/gen_tf_golden_fixture.py`` (bit-by-bit CRC,
  self-checked against the public CRC-32C check vector on import).
"""

from __future__ import annotations

import importlib.util
import os
import struct
from collections.abc import Sequence

import numpy as np

from videos_to_tfrecords_spark.schema import FeatureKind

_GEN = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "gen_tf_golden_fixture.py")
_spec = importlib.util.spec_from_file_location("gen_tf_golden_fixture", _GEN)
golden_tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(golden_tool)

crc32c_bitwise = golden_tool.crc32c_bitwise
masked_crc32c = golden_tool.masked


def frame_record(payload: bytes) -> bytes:
    """One TFRecord: length, masked CRC of the length, payload, masked CRC."""
    header = struct.pack("<Q", len(payload))
    return (
        header
        + struct.pack("<I", masked_crc32c(header))
        + payload
        + struct.pack("<I", masked_crc32c(payload))
    )


# ---------------------------------------------- per-row protobuf encoder ---


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delimited(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _bytes_list(values: Sequence[bytes]) -> bytes:
    return b"".join(_len_delimited(1, v) for v in values)


def _float_list(values: Sequence[float]) -> bytes:
    packed = struct.pack(f"<{len(values)}f", *values)
    return _len_delimited(1, packed) if values else b""


def _int64_list(values: Sequence[int]) -> bytes:
    packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in values)
    return _len_delimited(1, packed) if values else b""


def encode_feature(value, kind: str | None = None) -> bytes | None:
    if value is None:
        return None
    if isinstance(value, np.ndarray):
        value = value.tolist()
    elif isinstance(value, np.generic):
        value = [value.item()]
    if not isinstance(value, (list, tuple)):
        value = [value]
    value = [v.item() if isinstance(v, np.generic) else v for v in value]
    if kind is not None:
        if kind == FeatureKind.FLOAT:
            return _len_delimited(2, _float_list([float(v) for v in value]))
        if kind == FeatureKind.INT:
            return _len_delimited(3, _int64_list([int(v) for v in value]))
        if kind == FeatureKind.BYTES:
            out = []
            for v in value:
                if isinstance(v, str):
                    out.append(v.encode("utf-8"))
                elif isinstance(v, (bytes, bytearray)):
                    out.append(bytes(v))
                else:
                    return None
            return _len_delimited(1, _bytes_list(out))
        return None
    if not value:
        return b""
    head = value[0]
    if isinstance(head, bool):
        return None
    if isinstance(head, str):
        return _len_delimited(1, _bytes_list([v.encode("utf-8") for v in value]))
    if isinstance(head, (bytes, bytearray)):
        return _len_delimited(1, _bytes_list([bytes(v) for v in value]))
    if isinstance(head, float):
        return _len_delimited(2, _float_list(list(value)))
    if isinstance(head, int):
        return _len_delimited(3, _int64_list(list(value)))
    return None


def _features(columns: dict, kinds: dict | None = None) -> bytes:
    out = b""
    for key in sorted(columns):
        feat = encode_feature(columns[key], (kinds or {}).get(key))
        if feat is None:
            continue
        entry = _len_delimited(1, key.encode("utf-8")) + _len_delimited(2, feat)
        out += _len_delimited(1, entry)
    return out


def _feature_lists(columns: dict, kinds: dict | None = None) -> bytes:
    out = b""
    for key in sorted(columns):
        frames = columns[key] or []
        kind = (kinds or {}).get(key)
        feature_list = b""
        for frame_value in frames:
            feat = encode_feature(frame_value, kind)
            if feat is None:
                continue
            feature_list += _len_delimited(1, feat)
        entry = _len_delimited(1, key.encode("utf-8")) + _len_delimited(2, feature_list)
        out += _len_delimited(1, entry)
    return out


def encode_sequence_example(
    context: dict,
    feature_lists: dict,
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
) -> bytes:
    return _len_delimited(1, _features(context, context_kinds)) + _len_delimited(
        2, _feature_lists(feature_lists, list_kinds)
    )


def encode_row(rec, context_cols, list_cols, context_kinds, list_kinds) -> bytes:
    """One row (a mapping of column → value, from ``to_pylist``)."""
    ctx = {c: rec[c] for c in context_cols}
    lists = {c: list(rec[c]) if rec[c] is not None else [] for c in list_cols}
    return encode_sequence_example(ctx, lists, context_kinds, list_kinds)


def encode_rows(batch, context_cols, list_cols, context_kinds=None, list_kinds=None) -> list:
    return [
        encode_row(rec, context_cols, list_cols, context_kinds, list_kinds)
        for rec in batch.to_pylist()
    ]
