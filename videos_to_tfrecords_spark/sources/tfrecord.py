"""TFRecord sink + tf.train.SequenceExample serialization, dependency-free.

Reference parity:
- ``generate_seq_example`` / ``to_feature_list`` (reference preprocess.py:82-106,
  features.py:39-56): builds a SequenceExample with LIST_COLUMNS as per-frame
  FeatureLists and CONTEXT_COLUMNS as context Features, with the reference's
  coercions — scalar→single-element list (features.py:41-42), str→utf-8 bytes
  (features.py:49-53), unsupported dtype → skipped (features.py:55-56).
- ``WriteTFRecord`` (reference preprocess.py:109-128): lowercased prefix,
  sharded files ``{out}/data/{split}/{split}-NNNNN-of-MMMMM.tfrecord``,
  every split written by one ``mapInArrow`` job (Beam's tagged outputs,
  preprocess.py:389-416).

Instead of requiring tensorflow, the engine emits the protobuf wire format
directly (it is small and fixed: SequenceExample{1: context Features,
2: feature_lists FeatureLists}, Features{1: map<string, Feature>},
Feature{1: BytesList | 2: FloatList | 3: Int64List}) and the TFRecord
framing (length:uint64le, masked-crc32c(length), payload,
masked-crc32c(payload)) with a table-driven CRC32C. Golden-byte and
round-trip tests in tests/test_tfrecord.py; verified against
tf.train.SequenceExample wire layout per the public protobuf spec.

Scale: serialization is a per-row map (no shuffle); the randomizing R2
shuffle runs BEFORE the encode so the wide binary column never exchanges
(the reference's own column-pruning lesson, preprocess.py:241). The encode
can run inside the sink's own Python pass (``sequence_example_payloads``).

Determinism convention: map entries are emitted in sorted-key order (proto
map order is unspecified; sorting makes output bytes reproducible).
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterable, Sequence
from itertools import repeat

import numpy as np

from videos_to_tfrecords_spark.schema import FeatureKind

# ---------------------------------------------------------------- CRC32C ---

_CRC32C_POLY = 0x82F63B78  # Castagnoli, reflected


def _make_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        table.append(c)
    return table


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's rotated+offset CRC mask."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------- protobuf writing ---


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
    """tf.train.Feature bytes with the reference's coercion rules
    (features.py:39-56): scalars promoted to 1-element lists, str→utf-8,
    unsupported → None (caller skips, mirroring the warn+drop).

    When ``kind`` (a schema.FeatureKind tag) is given, the proto list type
    follows the DECLARATION — exactly features.py to_feature_list(value,
    dtype): an int-valued column declared FLOAT serializes as FloatList
    (e.g. the reference's rounded frame_per_sec), and a declared dtype with
    an empty list still sets the (empty) typed list field. Without ``kind``
    it falls back to runtime-type inference."""
    if value is None:
        return None
    if isinstance(value, np.ndarray):
        value = value.tolist()  # Arrow hands list columns over as ndarrays
    elif isinstance(value, np.generic):
        value = [value.item()]
    if not isinstance(value, (list, tuple)):
        value = [value]  # scalar→list promotion, features.py:41-42
    value = [v.item() if isinstance(v, np.generic) else v for v in value]
    if kind is not None:
        if kind == FeatureKind.FLOAT:  # features.py:43-45
            return _len_delimited(2, _float_list([float(v) for v in value]))
        if kind == FeatureKind.INT:  # features.py:46-47
            return _len_delimited(3, _int64_list([int(v) for v in value]))
        if kind == FeatureKind.BYTES:  # features.py:48-54 (str→utf8)
            out = []
            for v in value:
                if isinstance(v, str):
                    out.append(v.encode("utf-8"))
                elif isinstance(v, (bytes, bytearray)):
                    out.append(bytes(v))
                else:
                    # A non-str/bytes value in a BYTES-declared column:
                    # tf.train.BytesList would raise; bytes(int) would
                    # silently emit a zero-filled buffer. Drop the feature
                    # (the engine's warn+drop convention for bad dtypes).
                    return None
            return _len_delimited(1, _bytes_list(out))
        return None  # OTHER → warn+drop, features.py:55-56
    if not value:
        return b""
    head = value[0]
    if isinstance(head, bool):
        return None  # bool is not a reference dtype → OTHER → skipped
    if isinstance(head, str):
        return _len_delimited(1, _bytes_list([v.encode("utf-8") for v in value]))
    if isinstance(head, (bytes, bytearray)):
        return _len_delimited(1, _bytes_list([bytes(v) for v in value]))
    if isinstance(head, float):
        return _len_delimited(2, _float_list(list(value)))
    if isinstance(head, int):
        return _len_delimited(3, _int64_list(list(value)))
    return None  # unsupported dtype: features.py:55-56


def _features(columns: dict, kinds: dict | None = None) -> bytes:
    """tf.train.Features: map<string, Feature> in sorted-key order."""
    out = b""
    for key in sorted(columns):
        feat = encode_feature(columns[key], (kinds or {}).get(key))
        if feat is None:
            continue  # reference drops unsupported silently (features.py:55-56)
        entry = _len_delimited(1, key.encode("utf-8")) + _len_delimited(2, feat)
        out += _len_delimited(1, entry)
    return out


def _feature_lists(columns: dict, kinds: dict | None = None) -> bytes:
    """tf.train.FeatureLists: map<string, FeatureList>; each value is a list
    of per-frame values."""
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
    """tf.train.SequenceExample wire bytes (reference preprocess.py:82-106):
    context = per-video scalars (CONTEXT_COLUMNS), feature_lists = per-frame
    parallel lists (LIST_COLUMNS). The optional kind maps (schema.
    CONTEXT_COLUMNS / LIST_COLUMNS) make the proto list types follow the
    DECLARED dtypes as the reference does, instead of runtime inference."""
    return _len_delimited(
        1, _features(context, context_kinds)
    ) + _len_delimited(2, _feature_lists(feature_lists, list_kinds))


# ------------------------------------------------------ protobuf reading ---


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _iter_fields(buf: bytes) -> Iterable[tuple[int, int, bytes | int]]:
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field, wire, v
        elif wire == 5:
            yield field, wire, buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field, wire, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _decode_feature(buf: bytes):
    for field, _, payload in _iter_fields(buf):
        vals = []
        if field == 1:  # BytesList
            vals = [v for f, _, v in _iter_fields(payload) if f == 1]
        elif field == 2:  # FloatList (packed)
            for f, _, v in _iter_fields(payload):
                if f == 1:
                    vals.extend(struct.unpack(f"<{len(v)//4}f", v))
        elif field == 3:  # Int64List (packed varints)
            for f, _, v in _iter_fields(payload):
                if f == 1:
                    pos = 0
                    while pos < len(v):
                        x, pos = _read_varint(v, pos)
                        vals.append(x - (1 << 64) if x >= (1 << 63) else x)
        return vals
    return []


def _decode_map(buf: bytes, value_fn):
    out = {}
    for field, _, entry in _iter_fields(buf):
        if field != 1:
            continue
        key, value = None, None
        for f, _, v in _iter_fields(entry):
            if f == 1:
                key = v.decode("utf-8")
            elif f == 2:
                value = value_fn(v)
        out[key] = value
    return out


def decode_sequence_example(buf: bytes) -> tuple[dict, dict]:
    """Parse wire bytes back to (context, feature_lists) — the round-trip
    check for the dependency-free encoder."""
    context: dict = {}
    lists: dict = {}
    for field, _, payload in _iter_fields(buf):
        if field == 1:
            context = _decode_map(payload, _decode_feature)
        elif field == 2:
            lists = _decode_map(
                payload,
                lambda fl: [
                    _decode_feature(v) for f, _, v in _iter_fields(fl) if f == 1
                ],
            )
    return context, lists


# ------------------------------------------------------ Spark-facing ops ---


def _encode_row(rec, context_cols, list_cols, context_kinds, list_kinds) -> bytes:
    """One row (a mapping of column → value, from pandas or Arrow) as
    SequenceExample wire bytes."""
    ctx = {c: rec[c] for c in context_cols}
    lists = {c: list(rec[c]) if rec[c] is not None else [] for c in list_cols}
    return encode_sequence_example(ctx, lists, context_kinds, list_kinds)


def with_sequence_example(
    df,
    context_cols,
    list_cols,
    out: str = "proto",
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
):
    """Add a BinaryType column of SequenceExample wire bytes (the
    ``generate_seq_example`` map, reference preprocess.py:411-412).

    Pass ``context_kinds``/``list_kinds`` (schema.CONTEXT_COLUMNS /
    LIST_COLUMNS) to serialize by DECLARED dtype like the reference's
    to_feature_list — without them, list types are inferred from runtime
    values (which would e.g. emit Int64List for an integer-valued column
    declared FLOAT).

    Proto encoding is inherently per-row Python; mapInPandas keeps the
    transfer Arrow-batched and lets one task amortize the encoder across
    its whole partition. Place it after any shuffle so the binary column
    never exchanges (SURVEY §7.3); a pipeline that ends in the sink can
    skip the column entirely and encode inside the write with
    :func:`sequence_example_payloads` (what the CLI does)."""
    import pandas as pd  # local import: executors need it, driver may not

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out} binary"

    def encode(batches):
        for pdf in batches:
            protos = [
                _encode_row(rec, context_cols, list_cols, context_kinds, list_kinds)
                for rec in pdf.to_dict("records")
            ]
            pdf[out] = pd.Series(protos, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(encode, schema)


def sequence_example_payloads(
    context_cols,
    list_cols,
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
):
    """A sink payload function (see :func:`write_split_tfrecords`) that
    encodes each row of an Arrow batch as SequenceExample wire bytes — the
    same bytes :func:`with_sequence_example` puts in its column, computed
    inside the write task instead of in a Python pass of its own."""

    def payloads(batch) -> list[bytes]:
        return [
            _encode_row(rec, context_cols, list_cols, context_kinds, list_kinds)
            for rec in batch.to_pylist()
        ]

    return payloads


# --------------------------------------------------------- TFRecord files ---


def write_record(fh, payload: bytes) -> None:
    header = struct.pack("<Q", len(payload))
    fh.write(header)
    fh.write(struct.pack("<I", masked_crc32c(header)))
    fh.write(payload)
    fh.write(struct.pack("<I", masked_crc32c(payload)))


def read_records(path: str, verify: bool = True) -> Iterable[bytes]:
    with open(path, "rb") as fh:
        while True:
            header = fh.read(8)
            if not header:
                return
            (length,) = struct.unpack("<Q", header)
            (hcrc,) = struct.unpack("<I", fh.read(4))
            payload = fh.read(length)
            (pcrc,) = struct.unpack("<I", fh.read(4))
            if verify:
                if masked_crc32c(header) != hcrc:
                    raise ValueError(f"{path}: bad length crc")
                if masked_crc32c(payload) != pcrc:
                    raise ValueError(f"{path}: bad payload crc")
            yield payload


def write_tfrecords(df, payload, output_dir: str, prefix: str) -> int:
    """Sharded TFRecord sink (reference WriteTFRecord, preprocess.py:109-128):
    ``{output_dir}/data/{prefix}/{prefix}-NNNNN-of-MMMMM.tfrecord``, prefix
    lowercased (P6), one shard per partition (Spark task = output shard,
    exactly the runner-chosen sharding of the reference's sink).
    ``payload`` is as for :func:`write_split_tfrecords`.

    Caller is expected to have applied operators.shuffle.shuffle() first —
    kept separate so the write itself adds no exchange."""
    return write_split_tfrecords(df, payload, None, output_dir, [prefix])[str(prefix)]


def write_split_tfrecords(
    df, payload, split_col: str | None, output_dir: str, splits=("Train", "Val", "Test")
) -> dict[str, int]:
    """The reference's per-split sink layout (R3 + S4: one sink per tagged
    split, preprocess.py:389-416), written in ONE pass like Beam's tagged
    outputs. Returns records written per split.

    It is one ``mapInArrow`` job: task ``i`` opens shard ``i`` of every
    split, routes each row by ``split_col`` (rows of other splits are
    dropped; ``None`` sends every row to the first split) and frames it
    with :func:`write_record`, then reports its per-split counts. Tasks
    write ``{prefix}-NNNNN.tfrecord.part``; after the job the driver knows
    the shard count (one per task, empty partitions included, since
    ``mapInArrow`` calls the function on them too) and renames each part
    to its final ``-of-MMMMM`` name. The input plan runs once whatever the
    number of splits, so nothing upstream needs caching.

    ``payload`` is either the name of a binary column holding each record,
    or a function from an Arrow ``RecordBatch`` to one ``bytes`` per row,
    run inside the write task (e.g. :func:`sequence_example_payloads`, so
    the encode needs no Python pass of its own)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    keys = [str(s) for s in splits]
    prefixes = {s: s.lower() for s in keys}  # reference preprocess.py:119
    dirs = {s: os.path.join(output_dir, "data", p) for s, p in prefixes.items()}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    def part(split, idx: int) -> str:
        return os.path.join(dirs[split], f"{prefixes[split]}-{idx:05d}.tfrecord.part")

    if callable(payload):
        to_bytes = payload
    else:
        df = df.select(payload, *([split_col] if split_col else []))

        def to_bytes(batch):
            return batch.column(payload).to_pylist()

    if split_col:
        df = df.filter(F.col(split_col).isin(keys))

    def write(batches):
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        counts = dict.fromkeys(keys, 0)
        handles = {s: open(part(s, idx), "wb") for s in keys}
        try:
            for batch in batches:
                routes = batch.column(split_col).to_pylist() if split_col else repeat(keys[0])
                for split, record in zip(routes, to_bytes(batch)):
                    write_record(handles[split], record)
                    counts[split] += 1
        finally:
            for fh in handles.values():
                fh.close()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([idx] * len(keys), pa.int32()),
                pa.array(keys, pa.string()),
                pa.array([counts[s] for s in keys], pa.int64()),
            ],
            names=["shard", "split", "n"],
        )

    rows = df.mapInArrow(write, "shard int, split string, n long").collect()
    n_shards = len({r.shard for r in rows})
    for s in keys:
        for i in range(n_shards):
            final = f"{prefixes[s]}-{i:05d}-of-{n_shards:05d}.tfrecord"
            os.replace(part(s, i), os.path.join(dirs[s], final))
    totals = dict.fromkeys(keys, 0)
    for r in rows:
        totals[r.split] += r.n
    return totals


def read_tfrecords_df(spark, path_glob: str):
    """Distributed TFRecord source: binaryFile scan (distributed listing +
    whole-file content) → per-file record parsing in an Arrow-batched flat
    map. One task per file; at 100 TB pair with sharded files so tasks are
    balanced. Returns (path, record binary) rows."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob)

    def parse(batches):
        for pdf in batches:
            paths, records = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content)
                pos = 0
                while pos < len(buf):
                    (length,) = struct.unpack("<Q", buf[pos : pos + 8])
                    payload = buf[pos + 12 : pos + 12 + length]
                    (pcrc,) = struct.unpack(
                        "<I", buf[pos + 12 + length : pos + 16 + length]
                    )
                    if masked_crc32c(payload) != pcrc:
                        raise ValueError(f"{path}: bad payload crc at offset {pos}")
                    paths.append(path)
                    records.append(payload)
                    pos += 16 + length
            yield pd.DataFrame({"path": paths, "record": records})

    return files.select("path", "content").mapInPandas(parse, "path string, record binary")
