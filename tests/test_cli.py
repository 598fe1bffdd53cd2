"""CLI end-to-end: the reference's run_preprocess surface over a manifest,
through every --mode, producing parseable sharded TFRecords per split."""

from __future__ import annotations

import glob
import inspect
import os
import sys
import types

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


def _reaches(code, targets: set, defs: dict, seen: set) -> bool:
    """Whether ``code`` names one of ``targets`` — itself, in a nested
    function, or (by name, transitively) in a function of the package."""
    names = set(code.co_names)
    nested = [c for c in code.co_consts if isinstance(c, types.CodeType)]
    for name in names - seen:
        seen.add(name)
        nested += defs.get(name, [])
    return bool(names & targets) or any(_reaches(c, targets, defs, seen) for c in nested)


def test_video_queries_decode_only_through_cli_stages(spark, sf_dir, monkeypatch):
    """``cli`` is the one composition root of the video chain. Every
    registered plan that can reach a decode or model kernel (found from the
    bytecode: names, followed through the package's functions) is built
    with the kernels and ``cli.decoded_logits`` wrapped; each query that
    decodes video must call the kernels only inside that stage."""
    import __spark_entry__  # noqa: F401 - importing registers every query module
    from videos_to_tfrecords_spark import cli
    from videos_to_tfrecords_spark.ml import inference, video
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    package = [m for n, m in sys.modules.items() if n.startswith("videos_to_tfrecords_spark")]
    defs: dict[str, list] = {}
    for m in package:
        for name, obj in vars(m).items():
            if inspect.isfunction(obj) and obj.__module__ == m.__name__:
                defs.setdefault(name, []).append(obj.__code__)
    kernels = {
        name: getattr(mod, name)
        for mod, names in (
            (video, ("decode_videos", "decode_and_infer")),
            (inference, ("batch_inference", "batch_inference_by_shape")),
        )
        for name in names
    }
    reaching = [n for n, fn in QUERIES.items() if _reaches(fn.__code__, set(kernels), defs, set())]

    calls, depth, stage = [], [0], cli.decoded_logits

    def staged(*args, **kwargs):
        depth[0] += 1
        try:
            return stage(*args, **kwargs)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(cli, "decoded_logits", staged)
    for name, orig in kernels.items():

        def wrapped(*args, _name=name, _orig=orig, **kwargs):
            calls.append((_name, depth[0] > 0))
            return _orig(*args, **kwargs)

        for m in package:  # every module-level alias of the kernel
            if getattr(m, name, None) is orig:
                monkeypatch.setattr(m, name, wrapped)

    chains = {}
    for name in reaching:
        calls.clear()
        QUERIES[name](spark, sf_dir)  # builds the plan; the kernels run at execution
        if {"decode_videos", "decode_and_infer"} & {k for k, _ in calls}:
            chains[name] = list(calls)
    assert set(chains) >= {
        "video_inference_census", "video_sequence_census", "video_crop_census",
        "video_pipeline_e2e",
    }
    outside = {n: c for n, c in chains.items() if not all(inside for _, inside in c)}
    assert not outside, f"video chains composed outside cli's stages: {outside}"
