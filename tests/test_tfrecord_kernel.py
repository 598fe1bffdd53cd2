"""The columnar TFRecord kernel against its oracles: the scalar bit-by-bit
CRC32C of tools/gen_tf_golden_fixture.py and the per-row SequenceExample
encoder (tests/tfrecord_oracle.py). Plus the readers' integrity checks:
both masked CRCs and truncated files, in all three readers."""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests import tfrecord_oracle as oracle
from videos_to_tfrecords_spark.schema import FeatureKind
from videos_to_tfrecords_spark.sources import tfrecord_kernel as kernel
from videos_to_tfrecords_spark.sources.tfrecord import read_records


def _crc_oracle(payloads):
    return [oracle.crc32c_bitwise(p) for p in payloads]


# ----------------------------------------------------------------- CRC ---


@pytest.mark.parametrize("width", [8, 64, 1024])
def test_crc_chunk_boundaries(monkeypatch, width):
    """Lengths 0, 1, chunk-1, chunk, chunk+1 and several chunks, each on its
    own and all in one batch, with the chunk width pinned."""
    monkeypatch.setattr(kernel, "_chunk_width", lambda lengths: width)
    rng = np.random.default_rng(width)
    lengths = [0, 1, width - 1, width, width + 1, 5 * width + 3]
    payloads = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for n in lengths]
    for p in payloads:
        assert kernel.crc32c(pa.array([p], pa.binary())).tolist() == _crc_oracle([p])
    assert kernel.crc32c(pa.array(payloads, pa.binary())).tolist() == _crc_oracle(payloads)


def test_crc_check_vector_and_empty_batch():
    assert kernel.crc32c(pa.array([b"123456789"], pa.binary())).tolist() == [0xE3069283]
    assert kernel.crc32c(pa.array([], pa.binary())).tolist() == []


@given(payloads=st.lists(st.binary(max_size=3000), max_size=12))
@settings(max_examples=60, deadline=None)
def test_crc_mixed_length_batches(payloads):
    arr = pa.array(payloads, pa.binary())
    assert kernel.crc32c(arr).tolist() == _crc_oracle(payloads)
    assert kernel.masked(kernel.crc32c(arr)).tolist() == [oracle.masked_crc32c(p) for p in payloads]


@given(payloads=st.lists(st.binary(max_size=300), max_size=8), start=st.integers(0, 3))
@settings(max_examples=30, deadline=None)
def test_frame_matches_scalar_framing(payloads, start):
    arr = pa.array([b"skip"] * start + payloads, pa.binary()).slice(start)  # sliced input
    framed = kernel.frame(arr).tobytes()
    assert framed == b"".join(oracle.frame_record(p) for p in payloads)
    assert kernel.unframe(framed, "mem").to_pylist() == payloads


# ------------------------------------------------------------ encoding ---

_f32 = st.floats(width=32)  # NaN, ±inf, -0.0 and subnormals included
_text = st.one_of(
    st.text(max_size=12),
    st.integers(100, 200).map(lambda n: "é" * n),  # 128+ bytes: two-byte varint
    st.sampled_from([16_400, 20_000]).map(lambda n: "x" * n),  # 16,384+: three bytes
)
_i64 = st.integers(-(2**63), 2**63 - 1)


def _maybe(s):
    return st.one_of(st.none(), s)


#: (arrow type, value strategy, kinds the per-row oracle can encode without
#: raising): context columns
CONTEXT = {
    "s": (pa.string(), _maybe(_text), [None, FeatureKind.BYTES, FeatureKind.OTHER]),
    "b": (pa.binary(), _maybe(st.binary(max_size=200)), [None, FeatureKind.BYTES]),
    "d": (pa.float64(), _maybe(_f32), [None, FeatureKind.FLOAT, FeatureKind.BYTES]),
    "w": (pa.float64(), _maybe(st.floats(-1e38, 1e38)), [None, FeatureKind.FLOAT]),
    "f": (pa.float32(), _maybe(_f32), [None, FeatureKind.FLOAT, FeatureKind.OTHER]),
    "i": (pa.int64(), _maybe(_i64), [None, FeatureKind.INT, FeatureKind.FLOAT]),
    "h": (pa.int16(), _maybe(st.integers(-(2**15), 2**15 - 1)), [None, FeatureKind.INT]),
    "u": (pa.uint64(), _maybe(st.integers(0, 2**64 - 1)), [None, FeatureKind.INT]),
    "t": (pa.bool_(), _maybe(st.booleans()), [None, FeatureKind.INT, FeatureKind.FLOAT]),
    "lf": (pa.list_(pa.float32()), _maybe(st.lists(_f32, max_size=4)), [None, FeatureKind.FLOAT]),
    "ls": (pa.list_(pa.string()), _maybe(st.lists(_text, max_size=3)), [None, FeatureKind.BYTES]),
    "li": (pa.list_(pa.int64()), _maybe(st.lists(_i64, max_size=3)), [None, FeatureKind.BYTES]),
}

#: feature-list columns: frames are scalars or (ragged) lists; cells and
#: frames may be null, cells and frames may be empty
LISTS = {
    "ts": (pa.list_(pa.float64()), st.lists(_maybe(_f32), max_size=4), [None, FeatureKind.FLOAT]),
    "lg": (
        pa.list_(pa.list_(pa.float32())),
        st.lists(_maybe(st.lists(_f32, max_size=5)), max_size=4),
        [None, FeatureKind.FLOAT, FeatureKind.OTHER],
    ),
    "id": (
        pa.list_(pa.list_(pa.int64())),
        st.lists(_maybe(st.lists(_i64, max_size=4)), max_size=3),
        [None, FeatureKind.INT, FeatureKind.FLOAT],
    ),
    "tx": (
        pa.list_(pa.list_(pa.string())),
        st.lists(_maybe(st.lists(_text, max_size=3)), max_size=3),
        [None, FeatureKind.BYTES],
    ),
    "bl": (
        pa.list_(pa.binary()),
        st.lists(_maybe(st.binary(max_size=40)), max_size=3),
        [None, FeatureKind.BYTES],
    ),
}


@st.composite
def batches(draw):
    n = draw(st.integers(0, 6))
    ctx_cols = draw(st.lists(st.sampled_from(sorted(CONTEXT)), max_size=5, unique=True))
    list_cols = draw(st.lists(st.sampled_from(sorted(LISTS)), max_size=3, unique=True))
    arrays, kinds = {}, ({}, {})
    for spec, cols, k in ((CONTEXT, ctx_cols, kinds[0]), (LISTS, list_cols, kinds[1])):
        for c in cols:
            typ, values, allowed = spec[c]
            cell = values if spec is CONTEXT else _maybe(values)
            cells = draw(st.lists(cell, min_size=n, max_size=n))
            arrays[c] = pa.array(cells, typ)
            kind = draw(st.sampled_from(allowed))
            if kind is not None:
                k[c] = kind
    declared = draw(st.booleans())
    batch = pa.RecordBatch.from_pydict(arrays) if arrays else pa.RecordBatch.from_pydict(
        {"_": pa.nulls(n)}
    )
    return batch, ctx_cols, list_cols, kinds if declared else ({}, {})


@given(case=batches())
@settings(max_examples=150, deadline=None)
def test_encode_batch_matches_per_row_encoder(case):
    batch, ctx_cols, list_cols, (ctx_kinds, list_kinds) = case
    got = kernel.encode_batch(batch, ctx_cols, list_cols, ctx_kinds, list_kinds)
    want = oracle.encode_rows(batch, ctx_cols, list_cols, ctx_kinds, list_kinds)
    assert got.to_pylist() == want


def test_encode_edge_values_byte_identical():
    """Pinned cases: non-ASCII and binary context, NaN/±inf/-0.0, multi-byte
    varints, INT kinds, OTHER (dropped), null/empty cells and frames."""
    batch = pa.RecordBatch.from_pydict(
        {
            "label": pa.array(["é", None, "x" * 16_400, ""]),
            "blob": pa.array([b"\x00\xff", b"", None, b"\x80" * 130]),
            "fps": pa.array([float("nan"), float("inf"), -0.0, None]),
            "n": pa.array([-1, 2**63 - 1, None, 0], pa.int64()),
            "drop": pa.array([1.0, 2.0, 3.0, 4.0]),
            "logits": pa.array(
                [[[0.5, -1.5], [2.0]], None, [], [[float("-inf")], None, []]],
                pa.list_(pa.list_(pa.float32())),
            ),
            "ids": pa.array([[[1, 2, 300]], [[-4]], [[]], None], pa.list_(pa.list_(pa.int64()))),
        }
    )
    ctx = ["label", "blob", "fps", "n", "drop"]
    lists = ["logits", "ids"]
    for kinds in (
        ({}, {}),
        (
            {"label": "bytes", "blob": "bytes", "fps": "float", "n": "int", "drop": "other"},
            {"logits": "float", "ids": "int"},
        ),
    ):
        got = kernel.encode_batch(batch, ctx, lists, *kinds).to_pylist()
        assert got == oracle.encode_rows(batch, ctx, lists, *kinds)


def test_null_values_inside_lists():
    """A null inside a declared-BYTES list drops the feature, as the per-row
    encoder does; a list whose first value is null is dropped when typed at
    run time; any other null inside a list raises (the per-row encoder
    raised a TypeError from struct.pack or str.encode)."""
    strs = pa.RecordBatch.from_pydict({"s": pa.array([["a", None], [None, "b"], ["c"]])})
    for kinds in ({"s": FeatureKind.BYTES}, {}):
        if not kinds:
            with pytest.raises(ValueError, match="null value inside a list"):
                kernel.encode_batch(strs, ["s"], [], kinds)
            strs = strs.slice(1)
        got = kernel.encode_batch(strs, ["s"], [], kinds).to_pylist()
        assert got == oracle.encode_rows(strs, ["s"], [], kinds)
    nums = pa.RecordBatch.from_pydict({"x": pa.array([[1.0, None]])})
    for kinds in ({"x": FeatureKind.FLOAT}, {}):
        with pytest.raises(ValueError, match="'x': null value inside a list"):
            kernel.encode_batch(nums, ["x"], [], kinds)


def test_slices_are_bounded_and_reassemble():
    """With the chunk cap pinned small, the sink's slices stay within it
    (or are one row) and their encodings and framings concatenate to the
    whole batch's."""
    rng = np.random.default_rng(7)
    n = 40
    batch = pa.RecordBatch.from_pydict(
        {
            "name": [f"video-{i}" for i in range(n)],
            "logits": pa.array(
                [[rng.standard_normal(8, np.float32) for _ in range(i % 5)] for i in range(n)],
                pa.list_(pa.list_(pa.float32())),
            ),
        }
    )
    args = (["name"], ["logits"], {"name": "bytes"}, {"logits": "float"})
    whole = kernel.encode_batch(batch, *args)
    parts = list(kernel.slices(batch, _cap=256))
    assert len(parts) > 5 and sum(p.num_rows for p in parts) == n
    for p in parts:
        est = sum(kernel._row_bytes(c).sum() for c in p.columns)
        assert est <= 256 or p.num_rows == 1
    encoded = [kernel.encode_batch(p, *args) for p in parts]
    assert sum((e.to_pylist() for e in encoded), []) == whole.to_pylist()
    framed = b"".join(kernel.frame(e).tobytes() for e in encoded)
    assert framed == kernel.frame(whole).tobytes()
    # the block reader with a tiny block: records span blocks, and a record
    # longer than a block is read whole
    blocks = list(kernel.read_file(io.BytesIO(framed), "mem", _cap=256))
    assert len(blocks) > 5
    assert [r for a in blocks for r in a.to_pylist()] == whole.to_pylist()


# ----------------------------------------------------- reader integrity ---


def _write(path, payloads) -> bytes:
    data = b"".join(oracle.frame_record(p) for p in payloads)
    path.write_bytes(data)
    return data


def _readers(spark):
    from videos_to_tfrecords_spark.sources.tfrecord import read_tfrecords_df
    from videos_to_tfrecords_spark.sources.tfrecord_datasource import register

    register(spark)
    return {
        "read_records": lambda p: list(read_records(p)),
        "read_records(verify=False)": lambda p: list(read_records(p, verify=False)),
        "read_tfrecords_df": lambda p: read_tfrecords_df(spark, p).collect(),
        "datasource": lambda p: spark.read.format("tfrecord").load(p).collect(),
    }


def _raises(read, path, *fragments):
    with pytest.raises(Exception) as info:
        read(path)
    text = str(info.value)
    assert "ValueError" in text or isinstance(info.value, ValueError), text
    for fragment in fragments:
        assert fragment in text, (fragment, text)


def test_readers_check_the_length_crc(spark, tmp_path):
    """Every reader verifies the masked CRC of the 8-byte length header,
    not only the payload CRC."""
    payloads = [b"first", b"second record"]
    second = 16 + len(payloads[0])
    for i, (name, read) in enumerate(_readers(spark).items()):
        if "verify=False" in name:
            continue
        path = tmp_path / f"flipped{i}.tfrecord"
        data = bytearray(_write(path, payloads))
        data[second + 9] ^= 0x01  # a byte of the second record's length CRC
        path.write_bytes(bytes(data))
        _raises(read, str(path), path.name, f"bad length crc at byte offset {second}")


@pytest.mark.parametrize(
    "cut, what",
    [(5, "length header"), (10, "length header"), (12 + 3, "payload"), (12 + 8 + 2, "payload crc")],
)
def test_readers_name_truncated_files(spark, tmp_path, cut, what):
    """A file cut mid-header, mid-payload or mid-trailer raises ValueError
    with the path and the byte offset of the cut record, in every reader,
    with or without CRC verification."""
    payloads = [b"intact", b"12345678"]
    first = 16 + len(payloads[0])
    for i, read in enumerate(_readers(spark).values()):
        path = tmp_path / f"cut{i}.tfrecord"
        path.write_bytes(_write(path, payloads)[: first + cut])
        message = f"truncated {what} of the record at byte offset {first}"
        _raises(read, str(path), path.name, message)
