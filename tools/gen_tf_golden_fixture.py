"""One-off generator for ``tests/fixtures/golden.tfrecord``.

Round-2 verdict item 5 asks for a vendored TFRecord fixture the parity
test can run WITHOUT TensorFlow. No container here has TF, so this script
produces the next-best thing: an artifact assembled by a SECOND,
fully-independent implementation — every byte below (varints, map-entry
ordering, packed float/int64 lists, the bit-by-bit CRC32C, the TFRecord
mask, the framing) is derived directly from the public specifications:

- protobuf wire format (protobuf.dev/programming-guides/encoding):
  varint keys ``(field << 3) | wire``, length-delimited submessages,
  packed repeated scalars; C++ deterministic serialization orders map
  entries by key.
- tf.train message shapes (tensorflow/core/example/feature.proto,
  example.proto): BytesList{1: repeated bytes}, FloatList{1: packed
  float}, Int64List{1: packed int64}; Feature{1: bytes_list, 2:
  float_list, 3: int64_list}; Features{1: map<string, Feature>};
  FeatureList{1: repeated Feature}; FeatureLists{1: map<string,
  FeatureList>}; SequenceExample{1: context, 2: feature_lists}.
- TFRecord framing (tensorflow/core/lib/io/record_writer.cc):
  uint64-LE length, masked CRC32C of the length bytes, payload, masked
  CRC32C of the payload; mask = ((crc >> 15) | (crc << 17)) + 0xa282ead8;
  CRC32C is the Castagnoli polynomial over reflected bits.

It intentionally imports NOTHING from videos_to_tfrecords_spark — the
test (tests/test_tfrecord.py::test_vendored_golden_tfrecord) then checks
the engine's encoder/decoder/framing byte-for-byte against this file.
The CRC implementation is bit-by-bit (no shared table code) and is
self-checked against the public CRC32C test vector on import. Importing the
module writes nothing, so tests/tfrecord_oracle.py takes ``crc32c_bitwise``
and ``masked`` from here as the scalar oracle for the engine's vectorized
CRC32C.

Run once: python tools/gen_tf_golden_fixture.py
"""

from __future__ import annotations

import os
import struct


def crc32c_bitwise(data: bytes) -> int:
    # reflected Castagnoli: poly 0x1EDC6F41 reversed = 0x82F63B78
    crc = 0xFFFFFFFF
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
    return crc ^ 0xFFFFFFFF


if crc32c_bitwise(b"123456789") != 0xE3069283:  # public check vector
    raise AssertionError("crc32c_bitwise fails the CRC-32C check vector")


def masked(data: bytes) -> int:
    c = crc32c_bitwise(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def varint(n: int) -> bytes:
    out = bytearray()
    while True:
        lo, n = n & 0x7F, n >> 7
        if n:
            out.append(lo | 0x80)
        else:
            out.append(lo)
            return bytes(out)


def ld(field: int, payload: bytes) -> bytes:  # wire type 2
    return varint((field << 3) | 2) + varint(len(payload)) + payload


def bytes_list(vals: list[bytes]) -> bytes:
    return b"".join(ld(1, v) for v in vals)


def float_list(vals: list[float]) -> bytes:  # packed
    if not vals:
        return b""
    return ld(1, b"".join(struct.pack("<f", v) for v in vals))


def int64_list(vals: list[int]) -> bytes:  # packed varints (two's complement)
    if not vals:
        return b""
    return ld(1, b"".join(varint(v & (1 << 64) - 1) for v in vals))


def feature(kind: str, vals) -> bytes:
    if kind == "bytes":
        return ld(1, bytes_list(vals))
    if kind == "float":
        return ld(2, float_list(vals))
    return ld(3, int64_list(vals))


def features_map(d: dict[str, tuple[str, list]]) -> bytes:
    out = b""
    for k in sorted(d):  # deterministic serialization: map sorted by key
        kind, vals = d[k]
        entry = ld(1, k.encode()) + ld(2, feature(kind, vals))
        out += ld(1, entry)
    return out


def feature_lists_map(d: dict[str, tuple[str, list[list]]]) -> bytes:
    out = b""
    for k in sorted(d):
        kind, steps = d[k]
        fl = b"".join(ld(1, feature(kind, step)) for step in steps)
        entry = ld(1, k.encode()) + ld(2, fl)
        out += ld(1, entry)
    return out


def sequence_example(ctx: dict, lists: dict) -> bytes:
    return ld(1, features_map(ctx)) + ld(2, feature_lists_map(lists))


#: the vendored records: the reference pipeline's output schema
#: (preprocess.py:82-106 context/list columns) plus the tricky encodings —
#: non-UTF8 bytes, an empty float step, packed int64s, negative ints
RECORDS = [
    sequence_example(
        {
            "dataset": ("bytes", [b"Train"]),
            "filename": ("bytes", [b"gs://data/L/360P/v1.mp4"]),
            "frame_per_sec": ("float", [30.0]),
            "frame_total": ("float", [72.0]),
            "label": ("bytes", [b"L"]),
        },
        {
            "logits": ("float", [[0.5, -1.5], [2.0, 0.25]]),
            "timestamp_ms": ("float", [[0.0], [500.0]]),
        },
    ),
    sequence_example(
        {"blob": ("bytes", [b"\x00\xff\x10"]), "n_frames": ("int", [3])},
        {
            "empty_step": ("float", [[]]),
            "ids": ("int", [[1, 2, 300], [-4]]),
        },
    ),
]


def main() -> None:
    out_dir = os.path.join(os.path.dirname(__file__), "..", "tests", "fixtures")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "golden.tfrecord")
    with open(path, "wb") as fh:
        for rec in RECORDS:
            header = struct.pack("<Q", len(rec))
            fh.write(header)
            fh.write(struct.pack("<I", masked(header)))
            fh.write(rec)
            fh.write(struct.pack("<I", masked(rec)))
    print(f"wrote {path}: {len(RECORDS)} records, {os.path.getsize(path)} bytes")


if __name__ == "__main__":
    main()
