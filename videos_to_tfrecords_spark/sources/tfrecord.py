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
masked-crc32c(payload)). Both are columnar: ``tfrecord_kernel`` builds the
SequenceExamples of a whole Arrow batch from its buffers and computes the
CRC32C of all its records at once in numpy; every writer and reader here
goes through it. Golden-byte and round-trip tests in tests/test_tfrecord.py
and tests/test_tfrecord_kernel.py; verified against tf.train.SequenceExample
wire layout per the public protobuf spec.

Scale: serialization is a map over Arrow batches (no shuffle), in slices of
bounded size; the randomizing R2 shuffle runs BEFORE the encode so the wide
binary column never exchanges (the reference's own column-pruning lesson,
preprocess.py:241). The encode can run inside the sink's own Python pass
(``sequence_example_payloads``).

Determinism convention: map entries are emitted in sorted-key order (proto
map order is unspecified; sorting makes output bytes reproducible).
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from videos_to_tfrecords_spark.sources import tfrecord_kernel as kernel

# ------------------------------------------- single values and records ---


def crc32c(data: bytes) -> int:
    return int(kernel.crc32c(pa.array([data], pa.binary()))[0])


def masked_crc32c(data: bytes) -> int:
    """TFRecord's rotated+offset CRC mask."""
    return int(kernel.masked(kernel.crc32c(pa.array([data], pa.binary())))[0])


def encode_feature(value, kind: str | None = None) -> bytes | None:
    """tf.train.Feature bytes of one Python value with the reference's
    coercion rules (features.py:39-56): scalars promoted to 1-element lists,
    str→utf-8, unsupported → None (caller skips, mirroring the warn+drop).

    When ``kind`` (a schema.FeatureKind tag) is given, the proto list type
    follows the DECLARATION — exactly features.py to_feature_list(value,
    dtype): an int-valued column declared FLOAT serializes as FloatList
    (e.g. the reference's rounded frame_per_sec), and a declared dtype with
    an empty list still sets the (empty) typed list field. Without ``kind``
    it falls back to runtime-type inference. Runs the columnar kernel on a
    one-element column."""
    try:
        arr = pa.array([value])
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return None  # elements of mixed types: no reference dtype covers them
    feats, kept = kernel.features(arr, kind)
    return feats[0].as_py() if kept[0] else None


def encode_sequence_example(
    context: dict,
    feature_lists: dict,
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
) -> bytes:
    """tf.train.SequenceExample wire bytes of one record given as Python
    values (reference preprocess.py:82-106): context = per-video scalars
    (CONTEXT_COLUMNS), feature_lists = per-frame parallel lists
    (LIST_COLUMNS). The optional kind maps (schema.CONTEXT_COLUMNS /
    LIST_COLUMNS) make the proto list types follow the DECLARED dtypes as
    the reference does; without them each value, and each frame, is typed
    at run time on its own, since Python values may differ in type. Whole
    Arrow batches go through :func:`kernel.encode_batch`."""
    context_kinds, list_kinds = context_kinds or {}, list_kinds or {}

    def encoded(values, kind):
        feats = [encode_feature(v, kind) for v in values]
        kept = np.array([f is not None for f in feats], bool)
        return pa.array([f or b"" for f in feats], pa.binary()), kept

    ctx = [(key, *encoded([v], context_kinds.get(key))) for key, v in context.items()]
    lists = []
    for key, frames in feature_lists.items():
        frames = list(frames) if frames is not None else []
        lists.append((key, *encoded(frames, list_kinds.get(key)), np.array([0, len(frames)])))
    return kernel.assemble(1, ctx, lists)[0].as_py()


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
    to_feature_list — without them, list types are inferred from the
    column types (which would e.g. emit Int64List for an integer column
    declared FLOAT).

    One ``mapInArrow`` pass: :func:`kernel.encode_batch` encodes each
    bounded slice of an Arrow batch at once. Place it after any shuffle so
    the binary column never exchanges (SURVEY §7.3); a pipeline that ends
    in the sink can skip the column entirely and encode inside the write
    with :func:`sequence_example_payloads` (what the CLI does)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in df.schema.fields]
        + [T.StructField(out, T.BinaryType())]
    )

    payloads = sequence_example_payloads(context_cols, list_cols, context_kinds, list_kinds)

    def encode(batches):
        for batch in batches:
            for part in kernel.slices(batch):
                yield pa.RecordBatch.from_arrays(
                    [*part.columns, payloads(part)], [*part.schema.names, out]
                )

    return df.mapInArrow(encode, schema)


def sequence_example_payloads(
    context_cols,
    list_cols,
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
):
    """A sink payload function (see :func:`write_split_tfrecords`) that
    encodes an Arrow batch's rows as SequenceExample wire bytes — the same
    bytes :func:`with_sequence_example` puts in its column, computed inside
    the write task instead of in a Python pass of its own."""

    def payloads(batch) -> pa.Array:
        return kernel.encode_batch(batch, context_cols, list_cols, context_kinds, list_kinds)

    return payloads


# --------------------------------------------------------- TFRecord files ---


def write_record(fh, payload: bytes) -> None:
    fh.write(kernel.frame(pa.array([payload], pa.binary())))


def read_records(path: str, verify: bool = True) -> Iterable[bytes]:
    """Every record of a TFRecord file. With ``verify`` both masked CRCs of
    each record are checked; a bad CRC or a truncated file raises
    ``ValueError`` naming the path and byte offset."""
    with open(path, "rb") as fh:
        for records in kernel.read_file(fh, path, verify):
            yield from records.to_pylist()


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
    split and, for each bounded slice of a batch (:func:`kernel.slices`),
    routes the rows by ``split_col`` (rows of other splits are dropped;
    ``None`` sends every row to the first split), frames them all with
    :func:`kernel.frame` and writes each split's records, in row order,
    with one ``write``; then it reports its per-split counts. Tasks write
    ``{prefix}-NNNNN.tfrecord.part``; after the job the driver knows the
    shard count (one per task, empty partitions included, since
    ``mapInArrow`` calls the function on them too) and renames each part
    to its final ``-of-MMMMM`` name. The input plan runs once whatever the
    number of splits, so nothing upstream needs caching.

    ``payload`` is either the name of a binary column holding each record,
    or a function from an Arrow ``RecordBatch`` to a binary array with one
    record per row, run inside the write task (e.g.
    :func:`sequence_example_payloads`, so the encode needs no Python pass
    of its own)."""
    from pyspark.sql import functions as F

    keys = [str(s) for s in splits]
    prefixes = {s: s.lower() for s in keys}  # reference preprocess.py:119
    dirs = {s: os.path.join(output_dir, "data", p) for s, p in prefixes.items()}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    def part(split, idx: int) -> str:
        return os.path.join(dirs[split], f"{prefixes[split]}-{idx:05d}.tfrecord.part")

    if callable(payload):
        to_records = payload
    else:
        df = df.select(payload, *([split_col] if split_col else []))

        def to_records(batch):
            return batch.column(payload)

    if split_col:
        df = df.filter(F.col(split_col).isin(keys))

    def write(batches):
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        counts = np.zeros(len(keys), np.int64)
        handles = [open(part(s, idx), "wb") for s in keys]
        try:
            for batch in batches:
                for rows in kernel.slices(batch):
                    records = to_records(rows)
                    if split_col:
                        route = pc.index_in(rows.column(split_col), value_set=pa.array(keys))
                        route = route.to_numpy(zero_copy_only=False)
                        order = np.argsort(route, kind="stable")  # keeps row order per split
                        records = records.take(pa.array(order))
                        n = np.bincount(route, minlength=len(keys))
                    else:
                        n = np.array([len(records)] + [0] * (len(keys) - 1))
                    framed = kernel.frame(records)
                    ends = np.cumsum(pc.binary_length(records).to_numpy() + 16)
                    cuts = np.concatenate([[0], ends])[np.concatenate([[0], np.cumsum(n)])]
                    for i, fh in enumerate(handles):
                        if n[i]:
                            fh.write(framed[cuts[i] : cuts[i + 1]])
                    counts += n
        finally:
            for fh in handles:
                fh.close()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([idx] * len(keys), pa.int32()),
                pa.array(keys, pa.string()),
                pa.array(counts, pa.int64()),
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


def tfrecord_files(spark, path: str):
    """binaryFile scan (distributed listing, whole-file ``content`` read
    only when selected) of ``path``: a file, a glob, or a directory with
    every file below it, e.g. a sink's ``data`` directory with one
    subdirectory per split. Prefer the directory to a glob: Spark looks
    for a streaming sink's metadata log under a single load path and,
    given a glob, logs a warning with a stack trace when that lookup
    fails."""
    return spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(path)


def read_tfrecords_df(spark, path: str):
    """Distributed TFRecord source: :func:`tfrecord_files` → per-file
    record parsing in an Arrow flat map, both CRCs of every record
    verified (``ValueError`` with path and byte offset on a bad CRC or a
    truncated file). One task per file; at 100 TB pair with sharded files
    so tasks are balanced. Returns (path, record binary) rows."""
    files = tfrecord_files(spark, path)

    def parse(batches):
        for batch in batches:
            for path, content in zip(batch.column("path").to_pylist(), batch.column("content")):
                records = kernel.unframe(content.as_buffer(), path)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([path] * len(records), pa.string()), records], ["path", "record"]
                )

    return files.select("path", "content").mapInArrow(parse, "path string, record binary")
