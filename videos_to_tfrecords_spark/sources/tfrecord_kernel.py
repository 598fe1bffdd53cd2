"""Columnar TFRecord kernel: SequenceExample wire bytes and TFRecord framing
for whole Arrow batches.

Every TFRecord writer and reader in the engine goes through this module.
No Python loop runs per row or per byte, except the reader's walk over
record headers (each record's offset depends on the previous length).

- **Encoding** (:func:`encode_batch`). A ``tf.train.SequenceExample`` is a
  nest of length-delimited protobuf fields, so each level is one vectorized
  step over a column: the varint headers of every element are computed with
  numpy from the Arrow offsets, and ``header + content`` is joined with
  ``pyarrow.compute.binary_join_element_wise``. FloatList/Int64List bytes
  come straight from the list column's value buffer, and the bytes of a
  row's frames are contiguous, so concatenating them is an offsets gather
  with no copy. Coercions follow the reference (features.py:39-56):
  scalar→one-element list, str→utf-8, unsupported dtype → feature dropped.
- **Framing** (:func:`frame`, :func:`unframe`, :func:`read_file`). TFRecord
  is ``len:uint64le | masked crc32c(len) | payload | masked crc32c
  (payload)``. :func:`crc32c` computes the CRC of every record of a batch at
  once: records are split into chunks of one width (front-padded with zero
  bytes, which leave a zero CRC register unchanged), all chunks advance in
  lockstep 64 bytes per step through a position table, and each record's
  chunk CRCs are combined with GF(2) shift tables (a CRC register advanced
  over ``n`` zero bytes is a linear map; the tables hold it for ``n = 2**b``).
- **Memory bound**. :func:`slices` cuts a batch into row ranges of at most
  about ``_CHUNK_BYTES`` encoded bytes, so no binary array overflows its
  int32 offsets and a worker's extra memory stays bounded at any payload
  width.

Nulls never enter an Arrow join here (``binary_join_element_wise`` with
``null_handling="skip"`` returns arrays of the wrong length in pyarrow 16);
a dropped feature is an empty element plus a ``False`` in a numpy mask.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from videos_to_tfrecords_spark.schema import FeatureKind

#: Byte budget of one encoded or framed slice (see :func:`slices`).
_CHUNK_BYTES = 32 << 20

# ------------------------------------------------------------- CRC32C ---

_POLY = 0x82F63B78  # CRC-32C (Castagnoli), reflected
_U32 = np.uint32


def _byte_table() -> np.ndarray:
    t = np.arange(256, dtype=_U32)
    for _ in range(8):
        t = np.where(t & 1, (t >> 1) ^ _U32(_POLY), t >> 1).astype(_U32)
    return t


_T = _byte_table()


def _zero_byte(v: np.ndarray) -> np.ndarray:
    """Advance CRC registers over one zero byte."""
    return (v >> 8) ^ _T[v & 0xFF]


#: Bytes per lockstep step; row ``i`` of the position table is the register
#: contribution of a byte at offset ``i`` of a step (``_STEP - 1 - i`` bytes
#: follow it). Flat index: ``offset * 256 + byte``.
_STEP = 64
_rows = [_T]
for _ in range(_STEP - 1):
    _rows.append(_zero_byte(_rows[-1]))
_STEP_TABLE = np.stack(_rows[::-1]).ravel()
_STEP_INDEX = np.arange(_STEP, dtype=np.uint16) * np.uint16(256)
del _rows

_BITS = (np.arange(256)[:, None] >> np.arange(8)) & 1


def _lookup(cols: np.ndarray) -> np.ndarray:
    """(4, 256) byte-lookup tables of the linear map whose images of the 32
    unit vectors are ``cols``."""
    return np.stack(
        [
            np.bitwise_xor.reduce(np.where(_BITS, cols[8 * p : 8 * p + 8], _U32(0)), axis=1)
            for p in range(4)
        ]
    ).astype(_U32)


def _apply(tab: np.ndarray, v: np.ndarray) -> np.ndarray:
    return tab[0][v & 0xFF] ^ tab[1][(v >> 8) & 0xFF] ^ tab[2][(v >> 16) & 0xFF] ^ tab[3][v >> 24]


_UNITS = _U32(1) << np.arange(32, dtype=_U32)
#: _SHIFTS[b]: the register map of a run of 2**b zero bytes (a binary array
#: holds under 2**31 bytes, so b < 32)
_SHIFTS = [_lookup(_zero_byte(_UNITS))]
for _ in range(31):
    _SHIFTS.append(_lookup(_apply(_SHIFTS[-1], _apply(_SHIFTS[-1], _UNITS))))


def _shift(v: np.ndarray, n_bytes: np.ndarray) -> np.ndarray:
    """Advance each register ``v[i]`` over ``n_bytes[i]`` zero bytes."""
    v = v.copy()
    n_bytes = np.asarray(n_bytes, np.int64)
    for b in range(int(n_bytes.max(initial=0)).bit_length()):
        sel = (n_bytes >> b) & 1 == 1
        if sel.any():
            v[sel] = _apply(_SHIFTS[b], v[sel])
    return v


def _lockstep(m: np.ndarray) -> np.ndarray:
    """CRC register of every row of ``m`` (rows, width) from a zero start;
    width is a multiple of 8."""
    rows, width = m.shape
    step = min(width, _STEP)
    idx = _STEP_INDEX[_STEP - step :]
    c = np.zeros(rows, _U32)
    buf = np.empty((rows, step), np.uint16)
    for j in range(0, width, step):
        np.add(m[:, j : j + step], idx, out=buf, dtype=np.uint16)
        # the register enters the first four bytes (offsets are multiples
        # of 256, so XOR-ing the low byte commutes with the add)
        buf[:, :4] ^= c.astype("<u4", copy=False).view(np.uint8).reshape(rows, 4)
        c = np.bitwise_xor.reduce(_STEP_TABLE.take(buf), axis=1)
    return c


def _chunk_width(lengths: np.ndarray) -> int:
    """The chunk width with the least estimated work: padded bytes, plus a
    fixed cost per lockstep step and per chunk combine."""
    best, best_cost = 8, None
    for w in (8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096):
        n_chunks = -(-lengths // w)
        cost = int(n_chunks.sum()) * (w + 64) + (w // min(w, _STEP)) * 4096
        if best_cost is None or cost < best_cost:
            best, best_cost = w, cost
    return best


def crc32c(records: pa.Array) -> np.ndarray:
    """CRC-32C of every element of a binary array, as uint32."""
    records = _plain(records)
    lengths = _lengths(records)
    n = len(lengths)
    reg = np.zeros(n, _U32)  # register over the data from a zero start
    width = _chunk_width(lengths)
    n_chunks = -(-lengths // width)
    total = int(n_chunks.sum())
    if total:
        pads = n_chunks * width - lengths
        zeros = _binary(_bounds(pads), np.zeros(int(pads.sum()), np.uint8))
        padded = _join(zeros, records)
        z = _lockstep(_data(padded).reshape(total, width))
        first = np.cumsum(n_chunks) - n_chunks
        last = np.repeat(first + n_chunks - 1, n_chunks)
        z = _shift(z, (last - np.arange(total)) * width)
        has = n_chunks > 0
        reg[has] = np.bitwise_xor.reduceat(z, first[has])
    # the 0xFFFFFFFF initial register, carried over each record's bytes
    reg ^= _shift(np.full(n, 0xFFFFFFFF, _U32), lengths)
    return reg ^ _U32(0xFFFFFFFF)


def masked(crc: np.ndarray) -> np.ndarray:
    """TFRecord's rotated+offset CRC mask."""
    crc = crc.astype(np.uint64)
    return ((((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF).astype(_U32)


# ------------------------------------------------------- Arrow helpers ---


def _plain(arr) -> pa.Array:
    """A non-chunked ``binary`` array (string and large types cast)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr if arr.type == pa.binary() else arr.cast(pa.binary())


def _offsets(arr: pa.Array) -> np.ndarray:
    """int64 value offsets (len + 1) of a binary array into its data buffer."""
    if len(arr) == 0:
        return np.zeros(1, np.int64)
    return np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4).astype(np.int64)


def _lengths(arr: pa.Array) -> np.ndarray:
    return np.diff(_offsets(arr))


def _data(arr: pa.Array) -> np.ndarray:
    """The value bytes of a binary array, first element to last."""
    o = _offsets(arr)
    buf = arr.buffers()[2] if len(arr) else None
    if buf is None or o[-1] == o[0]:
        return np.zeros(0, np.uint8)
    return np.frombuffer(buf, np.uint8, int(o[-1] - o[0]), int(o[0]))


def _bounds(sizes: np.ndarray) -> np.ndarray:
    out = np.zeros(len(sizes) + 1, np.int64)
    np.cumsum(sizes, out=out[1:])
    return out


def _binary(offsets: np.ndarray, data) -> pa.Array:
    """A binary array over ``data`` (numpy or buffer) from int64 offsets."""
    if len(offsets) and offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("binary array over 2 GiB; slice the batch first")
    return pa.Array.from_buffers(
        pa.binary(),
        len(offsets) - 1,
        [None, pa.py_buffer(np.ascontiguousarray(offsets, np.int32)), pa.py_buffer(data)],
    )


def _empty(n: int) -> pa.Array:
    return _binary(np.zeros(n + 1, np.int64), np.zeros(0, np.uint8))


def _join(*parts) -> pa.Array:
    """Element-wise concatenation (no input may hold nulls)."""
    return pc.binary_join_element_wise(*parts, b"")


# ---------------------------------------------------- protobuf encoding ---


def _varints(v: np.ndarray, tag: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Protobuf varints of uint64 values, each optionally preceded by a tag
    byte: (concatenated bytes, bytes per value)."""
    v = np.asarray(v).astype(np.uint64)
    size = np.ones(len(v), np.int64)
    for k in range(1, 10):
        more = (v >> np.uint64(7 * k)) > 0
        if not more.any():
            break
        size += more
    lead = 0 if tag is None else 1
    width = int(size.max(initial=1)) + lead
    m = np.empty((len(v), width), np.uint8)
    if lead:
        m[:, 0] = tag
    for k in range(width - lead):
        group = (v >> np.uint64(7 * k)) & np.uint64(0x7F)
        m[:, lead + k] = group | (size > k + 1).astype(np.uint64) << np.uint64(7)
    size = size + lead
    return m[np.arange(width) < size[:, None]], size


def _ld(field: int, content: pa.Array, keep: np.ndarray | None = None) -> pa.Array:
    """Length-delimited field ``tag | varint(len) | content`` per element;
    where ``keep`` is False the element is left as it is (empty content
    stays empty)."""
    data, size = _varints(_lengths(content), tag=field << 3 | 2)
    if keep is not None:
        data = data[np.repeat(keep, size)]
        size = np.where(keep, size, 0)
    return _join(_binary(_bounds(size), data), content)


def _segments(items: pa.Array, bounds: np.ndarray) -> pa.Array:
    """Concatenate ``items[bounds[i]:bounds[i+1]]`` per output element; the
    bytes are already contiguous, so this only gathers offsets."""
    o = _offsets(items)
    buf = items.buffers()[2] if len(items) else None
    if buf is None or o[-1] == o[0]:
        return _empty(len(bounds) - 1)
    return _binary(o[bounds], buf)


def _listify(arr: pa.Array) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """(values, bounds, valid): a list array's child values with each
    element's value range, or a scalar array as one-element lists."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = _valid(arr)
    t = arr.type
    if pa.types.is_fixed_size_list(t) or pa.types.is_large_list(t):
        arr = arr.cast(pa.list_(t.value_type))
        t = arr.type
    if pa.types.is_list(t):
        o = arr.offsets.to_numpy().astype(np.int64)
        values = arr.values.slice(int(o[0]), int(o[-1] - o[0]))
        return values, o - o[0], valid
    return arr, np.arange(len(arr) + 1, dtype=np.int64), valid


def _valid(arr: pa.Array) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), bool)
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _inferred_kind(t: pa.DataType) -> str | None:
    """Runtime-type inference (features.py:39-56): bool and any other type
    is no reference dtype."""
    if pa.types.is_floating(t):
        return FeatureKind.FLOAT
    if pa.types.is_integer(t):
        return FeatureKind.INT
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or (
        pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t)
    ):
        return FeatureKind.BYTES
    return None


def _numbers(values: pa.Array, name: str) -> np.ndarray:
    t = values.type
    if not (pa.types.is_floating(t) or pa.types.is_integer(t) or pa.types.is_boolean(t)):
        raise ValueError(f"feature {name!r}: {t} values are not numbers")
    if values.null_count:
        values = pc.fill_null(values, False if pa.types.is_boolean(t) else 0)
    return values.to_numpy(zero_copy_only=False)


def _float_bytes(values: pa.Array, name: str) -> np.ndarray:
    """Little-endian float32 bytes; wider values round through float64 as
    Python's ``float()`` then ``struct.pack('<f')`` does."""
    x = _numbers(values, name)
    if x.dtype != np.float32:
        with np.errstate(over="ignore"):
            x = x.astype(np.float64).astype("<f4")
    return np.ascontiguousarray(x, "<f4").view(np.uint8)


def _int_bits(values: pa.Array, name: str) -> np.ndarray:
    """Two's-complement uint64 of each value, truncating floats like int()."""
    x = _numbers(values, name)
    if x.dtype.kind == "f":
        x = x.astype(np.float64)
        if not (np.isfinite(x) & (np.abs(x) < 2.0**63)).all():
            raise ValueError(f"feature {name!r}: float value outside the int64 range")
        return np.trunc(x).astype(np.int64).view(np.uint64)
    if x.dtype == np.uint64:
        return x
    return x.astype(np.int64).view(np.uint64)


#: value type of each reference dtype's list
_VALUE_TYPES = {
    FeatureKind.FLOAT: pa.float32(),
    FeatureKind.INT: pa.int64(),
    FeatureKind.BYTES: pa.binary(),
}


def features(arr: pa.Array, kind: str | None, name: str = "") -> tuple[pa.Array, np.ndarray]:
    """Each element of ``arr`` as tf.train.Feature bytes: (features, kept).

    With ``kind`` (a schema.FeatureKind tag) the proto list type follows
    the DECLARATION (features.py to_feature_list): an empty list still sets
    the typed list field, a BYTES feature with a non-str/bytes value is
    dropped, OTHER is always dropped. Without it the type is inferred from
    the values: an empty list is an empty Feature, a list whose first value
    is null is dropped. A null element is dropped; a null value inside a
    numeric list raises ``ValueError``."""
    values, bounds, valid = _listify(arr)
    n = len(valid)
    count = np.diff(bounds)
    declared = kind is not None
    k = kind if declared else _inferred_kind(values.type)
    null_in = np.zeros(n, np.int64)
    head_null = np.zeros(n, bool)
    if values.null_count:
        nulls = _bounds(~_valid(values))
        null_in = nulls[bounds[1:]] - nulls[bounds[:-1]]
        first = np.minimum(bounds[:-1], len(values) - 1)
        head_null = (count > 0) & (nulls[first + 1] > nulls[first])
    keep = valid if declared else valid & ~head_null
    if k in _VALUE_TYPES and not (keep & (count > 0)).any():
        values = pa.nulls(len(values), _VALUE_TYPES[k])  # only empty lists remain
    bytes_typed = _inferred_kind(values.type) == FeatureKind.BYTES
    if k == FeatureKind.BYTES and declared:
        keep = keep & (null_in == 0)  # a null in a declared BYTES list drops it
    elif k is not None and (keep & (null_in > 0)).any():
        raise ValueError(f"feature {name!r}: null value inside a list")
    if k == FeatureKind.FLOAT:
        inner = _binary(bounds * 4, _float_bytes(values, name))
        feats = _ld(2, _ld(1, inner, count > 0))
    elif k == FeatureKind.INT:
        data, size = _varints(_int_bits(values, name))
        inner = _binary(_bounds(size)[bounds], data)
        feats = _ld(3, _ld(1, inner, count > 0))
    elif k == FeatureKind.BYTES and bytes_typed:
        items = _ld(1, pc.fill_null(_plain(values), b""))
        feats = _ld(1, _segments(items, bounds))
    elif k == FeatureKind.BYTES:
        # non-str/bytes values: only an empty list survives, as an empty BytesList
        keep = keep & (count == 0)
        feats = _ld(1, _empty(n))
    else:  # OTHER or no reference dtype: dropped (features.py:55-56)
        keep = np.zeros(n, bool)
        feats = _empty(n)
    if not declared:
        empty = valid & (count == 0)
        keep = keep | empty
        feats = _blank(feats, ~empty)
    return _blank(feats, keep), keep


def _blank(arr: pa.Array, keep: np.ndarray) -> pa.Array:
    """``arr`` with the elements where ``keep`` is False emptied."""
    if keep.all():
        return arr
    return pc.if_else(pa.array(keep), arr, pa.scalar(b"", pa.binary()))


def _entry(key: str, value: pa.Array, keep: np.ndarray | None = None) -> pa.Array:
    """A map<string, V> entry ``{1: key, 2: value}`` per element; empty
    where ``keep`` is False."""
    k = key.encode("utf-8")
    head, _ = _varints(np.array([len(k)]), tag=0x0A)
    inner = _join(head.tobytes() + k, _ld(2, value))
    if keep is not None:
        inner = _blank(inner, keep)
    return _ld(1, inner, keep)


def assemble(n: int, context: list, feature_lists: list) -> pa.Array:
    """SequenceExample bytes of ``n`` rows from encoded parts, keys in
    sorted order (proto map order is unspecified; sorting makes the bytes
    reproducible, as TF's deterministic serialization does).

    ``context``: ``(key, feats, kept)`` with one Feature per row.
    ``feature_lists``: ``(key, feats, kept, bounds)`` with one Feature per
    frame, row ``i`` owning frames ``bounds[i]:bounds[i+1]``."""
    ctx = [_entry(key, f, kept) for key, f, kept in sorted(context, key=lambda e: e[0])]
    lists = [
        _entry(key, _segments(_ld(1, f, kept), bounds))
        for key, f, kept, bounds in sorted(feature_lists, key=lambda e: e[0])
    ]
    return _join(_ld(1, _concat(ctx, n)), _ld(2, _concat(lists, n)))


def _concat(parts: list, n: int) -> pa.Array:
    if len(parts) > 1:
        return _join(*parts)
    return parts[0] if parts else _empty(n)


def encode_batch(
    batch,
    context_cols,
    list_cols,
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
) -> pa.Array:
    """SequenceExample bytes of every row of an Arrow batch (reference
    preprocess.py:82-106): ``context_cols`` as context Features and
    ``list_cols`` (list columns, one element per frame) as FeatureLists. A
    null list cell is an empty FeatureList. The kind maps (schema.
    CONTEXT_COLUMNS / LIST_COLUMNS) make the proto list types follow the
    DECLARED dtypes; a column without one is typed from its values.

    Call it on a :func:`slices` range: the result is one binary array."""
    context_kinds, list_kinds = context_kinds or {}, list_kinds or {}
    context = [(c, *features(batch.column(c), context_kinds.get(c), c)) for c in set(context_cols)]
    lists = []
    for c in set(list_cols):
        cells = batch.column(c)
        if isinstance(cells, pa.ChunkedArray):
            cells = cells.combine_chunks()
        if not (pa.types.is_list(cells.type) or pa.types.is_large_list(cells.type)):
            raise ValueError(f"feature list {c!r} is not a list column ({cells.type})")
        frames, bounds, valid = _listify(cells)
        feats, kept = features(frames, list_kinds.get(c), c)
        if not valid.all():  # a null cell has no frames
            kept = kept & np.repeat(valid, np.diff(bounds))
            feats = _blank(feats, kept)
        lists.append((c, feats, kept, bounds))
    return assemble(batch.num_rows, context, lists)


def _row_bytes(arr: pa.Array) -> np.ndarray:
    """Estimated encoded bytes of each element: its value bytes plus 16 per
    element at every nesting level (the protobuf headers are shorter)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        values, bounds, _ = _listify(arr)
        if _width(values.type):  # no per-value array for fixed-width values
            return np.diff(bounds) * (_width(values.type) + 16) + 16
        inner = _bounds(_row_bytes(values))
        return inner[bounds[1:]] - inner[bounds[:-1]] + 16
    if _inferred_kind(t) == FeatureKind.BYTES:
        return _lengths(_plain(arr)) + 16
    return np.full(len(arr), (_width(t) or arr.nbytes // max(len(arr), 1)) + 16, np.int64)


def _width(t: pa.DataType) -> int:
    """Bytes per value of a fixed-width primitive type, else 0."""
    return max(t.bit_width // 8, 1) if pa.types.is_primitive(t) else 0


def slices(batch, _cap: int = _CHUNK_BYTES) -> Iterator:
    """Consecutive row ranges of ``batch`` whose estimated encoded size is at
    most ``_cap`` bytes, or one row."""
    n = batch.num_rows
    sizes = np.zeros(n, np.int64)
    for col in batch.columns:
        sizes += _row_bytes(col)
    ends = np.cumsum(sizes)
    start = 0
    while start < n:
        base = ends[start - 1] if start else 0
        stop = max(int(np.searchsorted(ends, base + _cap, side="right")), start + 1)
        yield batch.slice(start, stop - start)
        start = stop


# ----------------------------------------------------------- framing ---

_HEADER = 12  # uint64 length + masked CRC of it
_FRAMING = 16  # header + masked CRC of the payload


def frame(payloads) -> np.ndarray:
    """TFRecord bytes of every payload, back to back: ``len | masked crc |
    payload | masked crc`` (tensorflow record_writer.cc)."""
    payloads = _plain(payloads)
    if payloads.null_count:
        raise ValueError("a TFRecord payload is null")
    n = len(payloads)
    head = np.empty((n, _HEADER), np.uint8)
    head[:, :8] = _lengths(payloads).astype("<u8").view(np.uint8).reshape(n, 8)
    lens = _binary(np.arange(n + 1) * 8, np.ascontiguousarray(head[:, :8]))
    head[:, 8:] = masked(crc32c(lens)).astype("<u4").view(np.uint8).reshape(n, 4)
    tail = masked(crc32c(payloads)).astype("<u4").view(np.uint8)
    framed = _join(
        _binary(np.arange(n + 1) * _HEADER, head), payloads, _binary(np.arange(n + 1) * 4, tail)
    )
    return _data(framed)


def _truncated(path: str, at: int, have: int, length: int) -> ValueError:
    if have < _HEADER:
        what = "length header"
    elif have < _HEADER + length:
        what = "payload"
    else:
        what = "payload crc"
    return ValueError(f"{path}: truncated {what} of the record at byte offset {at}")


def _scan(buf, path: str, base: int, final: bool, verify: bool) -> tuple[np.ndarray, int]:
    """Start offsets of the whole records at the front of ``buf`` and the end
    of the last one. ``final``: ``buf`` runs to the end of the file, so a
    partial record at its end is a truncated file."""
    starts = []
    pos, n = 0, len(buf)
    unpack = struct.Struct("<Q").unpack_from
    while n - pos >= _HEADER:
        (length,) = unpack(buf, pos)
        if n - pos < _FRAMING + length:
            if verify:  # a corrupt length must not read as a truncation
                _check_headers(np.frombuffer(buf, np.uint8), np.array([pos]), path, base)
            break
        starts.append(pos)
        pos += _FRAMING + length
    if final and pos < n:
        length = unpack(buf, pos)[0] if n - pos >= 8 else 0
        raise _truncated(path, base + pos, n - pos, length)
    return np.array(starts, np.int64), pos


def _stored(view: np.ndarray, at: np.ndarray) -> np.ndarray:
    """The little-endian uint32 stored at each offset."""
    return view[at[:, None] + np.arange(4)].view("<u4").ravel()


def _check_headers(view: np.ndarray, starts: np.ndarray, path: str, base: int) -> np.ndarray:
    """Verify each record's length CRC; returns the lengths."""
    heads = np.ascontiguousarray(view[starts[:, None] + np.arange(8)])
    crc = masked(crc32c(_binary(np.arange(len(starts) + 1) * 8, heads)))
    bad = np.flatnonzero(crc != _stored(view, starts + 8))
    if len(bad):
        raise ValueError(f"{path}: bad length crc at byte offset {base + starts[bad[0]]}")
    return heads.view("<u8").ravel().astype(np.int64)


def _records(buf, starts: np.ndarray, path: str, base: int, verify: bool) -> pa.Array:
    if not len(starts):
        return _empty(0)
    view = np.frombuffer(buf, np.uint8)
    if verify:
        lengths = _check_headers(view, starts, path, base)
    else:
        lengths = view[starts[:, None] + np.arange(8)].view("<u8").ravel().astype(np.int64)
    # payloads are the even elements of a binary array over the whole
    # buffer whose odd elements are the framing between them
    cuts = np.empty(2 * len(starts), np.int64)
    cuts[0::2] = starts + _HEADER
    cuts[1::2] = starts + _HEADER + lengths
    spans = _binary(cuts, pa.py_buffer(buf))
    records = spans.take(pa.array(np.arange(0, 2 * len(starts), 2)))
    if verify:
        bad = np.flatnonzero(masked(crc32c(records)) != _stored(view, starts + _HEADER + lengths))
        if len(bad):
            raise ValueError(f"{path}: bad payload crc at byte offset {base + starts[bad[0]]}")
    return records


def unframe(buf, path: str, verify: bool = True) -> pa.Array:
    """Every payload of a whole TFRecord file's bytes; ``ValueError`` naming
    ``path`` and the byte offset on a bad CRC or a truncated file."""
    starts, _ = _scan(buf, path, 0, True, verify)
    return _records(buf, starts, path, 0, verify)


def read_file(
    fh, path: str, verify: bool = True, _cap: int = _CHUNK_BYTES
) -> Iterator[pa.Array]:
    """The payloads of an open TFRecord file, one binary array per block of
    ``_cap`` bytes read (a longer record spans blocks and is read whole)."""
    buf, base = b"", 0
    while True:
        more = fh.read(_cap)
        buf = buf + more if buf else more
        starts, end = _scan(buf, path, base, not more, verify)
        if len(starts):
            yield _records(buf, starts, path, base, verify)
        if not more:
            return
        buf, base = buf[end:], base + end
