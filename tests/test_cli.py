"""CLI end-to-end: the reference's run_preprocess surface over a manifest,
through every --mode, producing parseable sharded TFRecords per split."""

from __future__ import annotations

import glob
import os

import pytest

from videos_to_tfrecords_spark.cli import main, parse_arguments
from videos_to_tfrecords_spark.sources.tfrecord import decode_sequence_example, read_records


def _manifest(tmp_path) -> str:
    files = [
        f"gs://bucket/videos/{label}/{res}/clip_{i}.{ext}"
        for i, (label, res, ext) in enumerate(
            [
                ("Animation", "360P", "mp4"),
                ("Gaming", "720P", "mkv"),
                ("Sports", "360P", "avi"),
                ("Vlog", "720P", "mp4"),
                ("Animation", "360P", "txt"),  # negative: filtered by P2
            ]
            * 4
        )
    ]
    path = os.path.join(tmp_path, "manifest.txt")
    with open(path, "w") as fh:
        fh.write("\n".join(files))
    return path


@pytest.mark.parametrize("mode", ["single_frame", "full_video", "crop_video"])
def test_cli_end_to_end(spark, tmp_path, mode):
    out = os.path.join(tmp_path, f"out_{mode}")
    counts = main(
        [
            "--input-manifest",
            _manifest(tmp_path),
            "--output-dir",
            out,
            "--mode",
            mode,
            "--sequence-length",
            "2000",
            "--period",
            "1000",
            "--cloud",  # lift the 3-frame local cap
        ],
        spark=spark,
    )
    assert sum(counts.values()) > 0
    files = glob.glob(os.path.join(out, "data", "*", "*.tfrecord"))
    assert files
    # every record parses; context carries the split name matching its dir
    n = 0
    for f in files:
        split_dir = os.path.basename(os.path.dirname(f))
        for rec in read_records(f):
            ctx, lists = decode_sequence_example(rec)
            assert ctx["dataset"][0].decode().lower() == split_dir
            assert ctx["label"][0].decode() in {"Animation", "Gaming", "Sports", "Vlog"}
            assert len(lists["logits"]) == len(lists["timestamp_ms"])
            n += 1
    assert n == sum(counts.values())


def test_cli_crop_payloads_equal_independent_composition(spark, tmp_path):
    """The records the CLI writes per split are exactly the SequenceExamples
    the public stage functions produce when composed independently —
    unfused decode → inference, encoded before any shuffle — collected and
    split by ``dataset``."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.ml.inference import batch_inference, linear_stub_model
    from videos_to_tfrecords_spark.ml.video import decode_videos
    from videos_to_tfrecords_spark.operators.filenames import create_filenames, extract_label
    from videos_to_tfrecords_spark.operators.sequence import crop_video, format_features
    from videos_to_tfrecords_spark.operators.split import with_random_split
    from videos_to_tfrecords_spark.schema import CONTEXT_COLUMNS, LIST_COLUMNS
    from videos_to_tfrecords_spark.sources.tfrecord import with_sequence_example

    manifest = _manifest(tmp_path)
    out = os.path.join(tmp_path, "out")
    argv = [
        "--input-manifest", manifest, "--output-dir", out, "--mode", "crop_video",
        "--sequence-length", "2000", "--period", "1000", "--cloud",
    ]
    main(argv, spark=spark)
    on_disk = {
        split: sorted(
            r for f in glob.glob(os.path.join(out, "data", split, "*")) for r in read_records(f)
        )
        for split in ("train", "val", "test")
    }

    args = parse_arguments(argv)
    with open(manifest) as fh:
        files = [line.strip() for line in fh if line.strip()]
    stamped = with_random_split(
        extract_label(create_filenames(spark, files)),
        args.train, args.val, args.test, seed=args.seed,
    )
    frames = decode_videos(stamped, skip_msec=args.frame_sample_rate, cloud=True)
    embedded = batch_inference(
        frames.drop("height", "width", "channels"), "image", linear_stub_model(12, 8)
    )
    grouped = crop_video(
        embedded.withColumn(
            "length_ms", F.lit(1000.0) * F.col("frame_total") / F.col("frame_per_sec")
        ),
        ts_ms_col="timestamp_ms", key_cols=["filename"], size_ms=2000, slide_ms=1000,
        length_ms_col="length_ms", partial_policy="reference",
    )
    seqs = format_features(
        grouped,
        context_cols=["label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=["logits", "timestamp_ms"],
    )
    protos = with_sequence_example(
        seqs,
        context_cols=["filename", "label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=["logits", "timestamp_ms"],
        context_kinds=CONTEXT_COLUMNS, list_kinds=LIST_COLUMNS,
    )
    expected = {split: [] for split in on_disk}
    for r in protos.select("dataset", "proto").collect():
        expected[r.dataset.lower()].append(bytes(r.proto))
    assert sum(map(len, expected.values())) > 0
    assert on_disk == {split: sorted(recs) for split, recs in expected.items()}


def test_cli_defaults_match_reference():
    a = parse_arguments(["--input-manifest", "m", "--output-dir", "o"])
    # reference run_preprocess.py defaults: mode=single_frame (:92-97),
    # sequence_length=15000 (:98-103), frame_sample_rate=500 (:87-91)
    assert a.mode == "single_frame"
    assert a.sequence_length == 15_000
    assert a.frame_sample_rate == 500.0
    assert (a.train, a.val, a.test) == (0.7, 0.15, 0.15)
