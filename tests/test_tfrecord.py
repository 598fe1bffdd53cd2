"""TFRecord framing + SequenceExample proto: goldens and round-trips
(SURVEY §7.3: masked CRC32C is easy to get subtly wrong — anchor on the
published CRC32C check value and hand-assembled wire bytes)."""

from __future__ import annotations

import glob
import os
import tempfile

from videos_to_tfrecords_spark.sources.tfrecord import (
    crc32c,
    decode_sequence_example,
    encode_sequence_example,
    masked_crc32c,
    read_records,
    with_sequence_example,
    write_record,
    write_tfrecords,
)


def test_crc32c_check_value():
    # the standard CRC-32C (Castagnoli) check value
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_masked_crc_is_tf_mask():
    crc = crc32c(b"123456789")
    expected = (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF
    assert masked_crc32c(b"123456789") == expected


def test_sequence_example_minimal_golden_bytes():
    # context {"a": [1]} (int64), empty feature_lists — hand-assembled wire:
    # SequenceExample{1: Features{1: entry{1:"a", 2: Feature{3: Int64List{1:[1]}}}}, 2: {}}
    buf = encode_sequence_example({"a": [1]}, {})
    assert buf == bytes.fromhex("0a0c0a0a0a016112051a030a010112 00".replace(" ", ""))


def test_sequence_example_roundtrip():
    context = {
        "label": "Animation",  # str → utf-8 bytes (features.py:49-53)
        "filename": b"gs://x/y.mp4",
        "frame_per_sec": 30.0,
        "frame_total": 90,  # int path
        "skipme": None,  # unsupported → dropped (features.py:55-56)
    }
    lists = {
        "logits": [[0.5, -1.5], [2.0, 3.0]],
        "timestamp_ms": [0.0, 500.0],
    }
    ctx, fl = decode_sequence_example(encode_sequence_example(context, lists))
    assert ctx["label"] == [b"Animation"]
    assert ctx["filename"] == [b"gs://x/y.mp4"]
    assert ctx["frame_per_sec"] == [30.0]
    assert ctx["frame_total"] == [90]
    assert "skipme" not in ctx
    assert fl["timestamp_ms"] == [[0.0], [500.0]]
    assert fl["logits"] == [[0.5, -1.5], [2.0, 3.0]]


def test_scalar_promotion():
    # features.py:41-42: scalar auto-promoted to 1-element list
    ctx, _ = decode_sequence_example(encode_sequence_example({"x": 2.5}, {}))
    assert ctx["x"] == [2.5]


def test_tfrecord_file_roundtrip(tmp_path):
    path = os.path.join(tmp_path, "t.tfrecord")
    payloads = [b"hello", b"", b"x" * 1000]
    with open(path, "wb") as fh:
        for p in payloads:
            write_record(fh, p)
    assert list(read_records(path)) == payloads


def test_tfrecord_crc_detects_corruption(tmp_path):
    path = os.path.join(tmp_path, "t.tfrecord")
    with open(path, "wb") as fh:
        write_record(fh, b"hello world")
    data = bytearray(open(path, "rb").read())
    data[14] ^= 0xFF  # flip a payload byte
    open(path, "wb").write(bytes(data))
    try:
        list(read_records(path))
        raise AssertionError("corruption not detected")
    except ValueError as e:
        assert "crc" in str(e)


def test_sharded_write_layout(spark, sf_dir):
    """S4 path scheme (reference preprocess.py:120):
    {out}/data/{split}/{split}-NNNNN-of-MMMMM.tfrecord, prefix lowercased."""
    from videos_to_tfrecords_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").limit(20)
    protos = with_sequence_example(
        ev.selectExpr("event_type", "value", "array(value) AS vals"),
        context_cols=["event_type"],
        list_cols=["vals"],
    ).repartition(3)
    with tempfile.TemporaryDirectory() as out:
        n = write_tfrecords(protos, "proto", out, "Train")
        files = sorted(glob.glob(os.path.join(out, "data", "train", "*.tfrecord")))
        assert n == 20
        assert len(files) == 3
        assert os.path.basename(files[0]) == "train-00000-of-00003.tfrecord"
        total = sum(len(list(read_records(f))) for f in files)
        assert total == 20
        # records parse back as SequenceExamples
        ctx, fl = decode_sequence_example(next(iter(read_records(files[0]))))
        assert set(ctx) == {"event_type"} and set(fl) == {"vals"}


def test_split_write_and_distributed_read(spark, sf_dir):
    """R3+S4 per-split layout, then read back through the binaryFile-based
    distributed source and compare multisets."""
    from videos_to_tfrecords_spark.operators.split import hash_bucket_split
    from videos_to_tfrecords_spark.sources.tables import load_table
    from videos_to_tfrecords_spark.sources.tfrecord import (
        read_tfrecords_df,
        write_split_tfrecords,
    )

    ev = load_table(spark, sf_dir, "events").limit(60)
    split = hash_bucket_split(ev, "event_id")
    protos = with_sequence_example(
        split.selectExpr("dataset", "event_type", "array(value) AS vals"),
        context_cols=["dataset", "event_type"],
        list_cols=["vals"],
    ).repartition(2)
    with tempfile.TemporaryDirectory() as out:
        counts = write_split_tfrecords(protos, "proto", "dataset", out)
        assert sum(counts.values()) == 60
        back = read_tfrecords_df(spark, os.path.join(out, "data", "*", "*.tfrecord"))
        rows = back.collect()
        assert len(rows) == 60
        # every record parses and carries its split name in context
        datasets = []
        for r in rows:
            ctx, _ = decode_sequence_example(bytes(r.record))
            datasets.append(ctx["dataset"][0].decode())
        import collections

        assert collections.Counter(datasets) == collections.Counter(
            {k: v for k, v in counts.items() if v}
        )


def _jobs_fired(spark, group: str, action) -> int:
    """Spark jobs (AQE query stages included) that ``action`` fires."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_split_sink_contract(spark, tmp_path):
    """write_split_tfrecords writes every split from ONE pass: each task
    writes its shard of every split (empty shards included), the -of-NNNNN
    suffix counts the tasks, no .part file is left, the returned counts
    are the records on disk, and the write fires no more Spark jobs than a
    noop write of the same DataFrame."""
    import uuid

    from videos_to_tfrecords_spark.sources.tfrecord import write_split_tfrecords

    df = spark.createDataFrame(
        [("Train", b"a"), ("Val", b"bb"), ("Train", b"ccc")], "dataset string, rec binary"
    ).repartition(8)
    out = str(tmp_path)
    tag = uuid.uuid4().hex
    counts = {}

    def write():
        counts.update(write_split_tfrecords(df, "rec", "dataset", out))

    n_write = _jobs_fired(spark, f"sink-{tag}", write)
    n_noop = _jobs_fired(
        spark, f"noop-{tag}", lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert counts == {"Train": 2, "Val": 1, "Test": 0}
    records = {}
    for split in ("Train", "Val", "Test"):
        split_dir = os.path.join(out, "data", split.lower())
        names = sorted(os.listdir(split_dir))  # a leftover .part would show here
        assert names == [f"{split.lower()}-{i:05d}-of-00008.tfrecord" for i in range(8)]
        records[split] = sorted(
            r for n in names for r in read_records(os.path.join(split_dir, n))
        )
    assert records == {"Train": [b"a", b"ccc"], "Val": [b"bb"], "Test": []}
    assert 0 < n_write <= n_noop


def test_python_datasource_roundtrip(spark, sf_dir):
    """spark.read/write.format('tfrecord') via the Spark 4 Python Data
    Source API: write a sharded dataset, read it back, verify multiset."""
    from videos_to_tfrecords_spark.sources.tables import load_table
    from videos_to_tfrecords_spark.sources.tfrecord_datasource import register

    register(spark)
    ev = load_table(spark, sf_dir, "events").limit(40)
    protos = with_sequence_example(
        ev.selectExpr("event_type", "array(value) AS vals"),
        context_cols=["event_type"],
        list_cols=["vals"],
    ).repartition(3)
    with tempfile.TemporaryDirectory() as out:
        path = os.path.join(out, "ds")
        protos.select("proto").write.format("tfrecord").mode("overwrite").option("path", path).save()
        files = sorted(glob.glob(os.path.join(path, "*.tfrecord")))
        assert len(files) == 3
        back = spark.read.format("tfrecord").load(os.path.join(path, "*.tfrecord"))
        rows = back.collect()
        assert len(rows) == 40
        want = sorted(bytes(r.proto) for r in protos.collect())
        got = sorted(bytes(r.record) for r in rows)
        assert got == want


def _ld(field: int, payload: bytes) -> bytes:
    """Hand-rolled length-delimited protobuf field (wire type 2). Single-
    byte varint length — all fixture payloads are < 128 bytes."""
    assert len(payload) < 128
    return bytes([field << 3 | 2, len(payload)]) + payload


def test_sequence_example_vs_hand_assembled_protobuf_wire():
    """Independent golden: the expected bytes are assembled directly from
    the protobuf wire spec + the tf.train message definitions (Feature
    field numbers: bytes_list=1/float_list=2/int64_list=3; Features.map=1;
    SequenceExample context=1/feature_lists=2; map entries key=1/value=2;
    packed float lists), NOT via the library's encoder helpers. Matches
    TF's SerializeToString(deterministic=True), which sorts map keys —
    exactly the encoder's sorted-key order."""
    import struct

    from videos_to_tfrecords_spark.schema import FeatureKind

    f32 = lambda *vs: struct.pack(f"<{len(vs)}f", *vs)  # noqa: E731

    fps_feature = _ld(2, _ld(1, f32(30.0)))  # Feature{float_list={[30.0]}}
    label_feature = _ld(1, _ld(1, b"dog"))  # Feature{bytes_list={["dog"]}}
    ctx = _ld(1, _ld(1, b"frame_per_sec") + _ld(2, fps_feature)) + _ld(
        1, _ld(1, b"label") + _ld(2, label_feature)
    )
    # FeatureList logits: two frames [0.5, -1.5] then [2.0]
    fl = _ld(1, _ld(2, _ld(1, f32(0.5, -1.5)))) + _ld(1, _ld(2, _ld(1, f32(2.0))))
    lists_bytes = _ld(1, _ld(1, b"logits") + _ld(2, fl))
    want = _ld(1, ctx) + _ld(2, lists_bytes)

    got = encode_sequence_example(
        {"frame_per_sec": 30.0, "label": "dog"},
        {"logits": [[0.5, -1.5], [2.0]]},
        context_kinds={
            "frame_per_sec": FeatureKind.FLOAT,
            "label": FeatureKind.BYTES,
        },
        list_kinds={"logits": FeatureKind.FLOAT},
    )
    assert got == want
    # and the decoder round-trips the independent bytes
    ctx_rt, lists_rt = decode_sequence_example(want)
    assert ctx_rt["label"] == [b"dog"]
    assert ctx_rt["frame_per_sec"] == [30.0]
    assert lists_rt["logits"] == [[0.5, -1.5], [2.0]]


def test_declared_dtype_overrides_runtime_inference():
    """features.py to_feature_list serializes by DECLARED dtype: an integer
    value in a FLOAT-declared column (the reference's rounded
    frame_per_sec) must emit FloatList, not Int64List."""
    import struct

    from videos_to_tfrecords_spark.schema import FeatureKind
    from videos_to_tfrecords_spark.sources.tfrecord import encode_feature

    # runtime inference on a Python int → Int64List (field 3)
    assert encode_feature(24)[0] >> 3 == 3
    # declared FLOAT → FloatList (field 2) with the float encoding of 24
    declared = encode_feature(24, FeatureKind.FLOAT)
    assert declared == _ld(2, _ld(1, struct.pack("<f", 24.0)))
    # declared BYTES coerces str → utf-8
    assert encode_feature("hi", FeatureKind.BYTES) == _ld(1, _ld(1, b"hi"))
    # declared OTHER → warn+drop (features.py:55-56)
    assert encode_feature(1.5, FeatureKind.OTHER) is None
    # declared dtype with an EMPTY list still sets the typed field (TF:
    # FloatList(value=[]) is an empty message, field present)
    assert encode_feature([], FeatureKind.FLOAT) == _ld(2, b"")
    # a non-str/bytes value in a BYTES-declared column is DROPPED, never
    # coerced: bytes(7) would silently emit a 7-byte zero buffer where
    # tf.train.BytesList raises (round-2 ADVICE fix)
    assert encode_feature(7, FeatureKind.BYTES) is None
    assert encode_feature(["ok", 7], FeatureKind.BYTES) is None
    assert encode_feature(b"\x00raw", FeatureKind.BYTES) == _ld(
        1, _ld(1, b"\x00raw")
    )


def test_tf_parity_if_tensorflow_present():
    """Cross-check against real TensorFlow when available (absent in this
    container → skipped): TF must parse our bytes losslessly and its
    deterministic re-serialization must be byte-identical."""
    import pytest

    tf = pytest.importorskip("tensorflow")

    from videos_to_tfrecords_spark.schema import FeatureKind

    buf = encode_sequence_example(
        {"frame_per_sec": 30.0, "label": "dog"},
        {"logits": [[0.5, -1.5], [2.0]]},
        context_kinds={
            "frame_per_sec": FeatureKind.FLOAT,
            "label": FeatureKind.BYTES,
        },
        list_kinds={"logits": FeatureKind.FLOAT},
    )
    msg = tf.train.SequenceExample.FromString(buf)
    assert list(msg.context.feature["label"].bytes_list.value) == [b"dog"]
    assert msg.SerializeToString(deterministic=True) == buf


def test_vendored_golden_tfrecord():
    """Parity against the VENDORED fixture (round-2 verdict item 5, closed
    as far as a TF-less environment allows): tests/fixtures/golden.tfrecord
    was assembled by a second, fully-independent spec-derived
    implementation (tools/gen_tf_golden_fixture.py — bit-by-bit CRC32C,
    its own varint/map/packed encoders, nothing imported from the
    engine). The engine must (a) read it with CRC verification on, (b)
    decode the exact field values, and (c) re-encode + re-frame the same
    logical records BYTE-IDENTICALLY."""
    import os

    from videos_to_tfrecords_spark.schema import FeatureKind
    from videos_to_tfrecords_spark.sources.tfrecord import (
        decode_sequence_example,
        encode_sequence_example,
        read_records,
        write_record,
    )

    path = os.path.join(os.path.dirname(__file__), "fixtures", "golden.tfrecord")
    payloads = list(read_records(path, verify=True))  # CRC-checked read
    assert len(payloads) == 2

    ctx0, lists0 = decode_sequence_example(payloads[0])
    assert ctx0 == {
        "dataset": [b"Train"],
        "filename": [b"gs://data/L/360P/v1.mp4"],
        "frame_per_sec": [30.0],
        "frame_total": [72.0],
        "label": [b"L"],
    }
    assert lists0 == {
        "logits": [[0.5, -1.5], [2.0, 0.25]],
        "timestamp_ms": [[0.0], [500.0]],
    }
    ctx1, lists1 = decode_sequence_example(payloads[1])
    assert ctx1 == {"blob": [b"\x00\xff\x10"], "n_frames": [3]}
    assert lists1 == {"empty_step": [[]], "ids": [[1, 2, 300], [-4]]}

    # byte-identical re-encode (scalars exercise scalar→list promotion)
    re0 = encode_sequence_example(
        {
            "dataset": b"Train",
            "filename": b"gs://data/L/360P/v1.mp4",
            "frame_per_sec": 30.0,
            "frame_total": 72.0,
            "label": b"L",
        },
        {"logits": [[0.5, -1.5], [2.0, 0.25]], "timestamp_ms": [[0.0], [500.0]]},
        context_kinds={
            "dataset": FeatureKind.BYTES,
            "filename": FeatureKind.BYTES,
            "frame_per_sec": FeatureKind.FLOAT,
            "frame_total": FeatureKind.FLOAT,
            "label": FeatureKind.BYTES,
        },
        list_kinds={"logits": FeatureKind.FLOAT, "timestamp_ms": FeatureKind.FLOAT},
    )
    assert re0 == payloads[0]
    re1 = encode_sequence_example(
        {"blob": b"\x00\xff\x10", "n_frames": 3},
        {"empty_step": [[]], "ids": [[1, 2, 300], [-4]]},
        context_kinds={"blob": FeatureKind.BYTES, "n_frames": FeatureKind.INT},
        list_kinds={"empty_step": FeatureKind.FLOAT, "ids": FeatureKind.INT},
    )
    assert re1 == payloads[1]

    # byte-identical re-FRAME: same length/CRC/mask arithmetic
    import io

    buf = io.BytesIO()
    for p in payloads:
        write_record(buf, p)
    assert buf.getvalue() == open(path, "rb").read()


def test_binary_context_column_passthrough(spark):
    """A BinaryType (raw bytes, NOT str→utf8) context column declared BYTES
    round-trips bit-exact through with_sequence_example — the
    encode_feature bytes-passthrough branch (reference features.py:48-54)
    driven from a real Spark column, as the registry E2E now does with
    content_md5 = unhex(md5(filename))."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.schema import FeatureKind

    df = (
        spark.createDataFrame([("a.mp4",), ("b.avi",)], ["filename"])
        .withColumn("content_md5", F.unhex(F.md5("filename")))
        .withColumn("vals", F.array(F.lit(1.0)))
    )
    protos = with_sequence_example(
        df,
        context_cols=["filename", "content_md5"],
        list_cols=["vals"],
        context_kinds={
            "filename": FeatureKind.BYTES,
            "content_md5": FeatureKind.BYTES,
        },
        list_kinds={"vals": FeatureKind.FLOAT},
    )
    import hashlib

    got = {}
    for r in protos.collect():
        ctx, _ = decode_sequence_example(bytes(r.proto))
        got[ctx["filename"][0].decode()] = ctx["content_md5"][0]
    for name in ("a.mp4", "b.avi"):
        assert got[name] == hashlib.md5(name.encode()).digest()
