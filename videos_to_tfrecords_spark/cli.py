"""CLI entry point — parity with the reference's run_preprocess.py.

Reference flag surface (run_preprocess.py:28-111): cloud, job_name/job_dir/
machine_type (Dataflow-only — here: --master), batch_size, output_dir,
input_dir, log_level, frame_sample_rate, mode, sequence_length, period.
Runner selection (run_preprocess.py:142: DataflowRunner vs DirectRunner)
maps to the Spark master URL; everything else drives the same pipeline the
``video_pipeline_*`` queries run: manifest → extension filter → label
extraction (P3) → split (R1) → decode (U1) → batched inference (U2) → mode
dispatch (crop_video | full_video | single_frame, preprocess.py:399-406) →
FormatFeatures (G5/G6) → shuffle (R2) → SequenceExample (U3) encoded inside
the one-pass sharded TFRecord write of every split (R3+S4,
preprocess.py:389-416).

Usage:
    python -m videos_to_tfrecords_spark.cli \
        --input-manifest files.txt --output-dir /tmp/out \
        --mode crop_video --sequence-length 15000 --period 1000
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def parse_arguments(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="videos → SequenceExample TFRecords")
    p.add_argument("--input-manifest", required=True, help="text file: one video path per line")
    p.add_argument("--output-dir", required=True)
    p.add_argument(
        "--mode",
        choices=["single_frame", "crop_video", "full_video"],
        default="single_frame",  # reference run_preprocess.py:92-97
    )
    p.add_argument("--sequence-length", type=int, default=15_000)  # ms, :98-103
    p.add_argument("--period", type=int, default=None)  # ms, :104-109 (None → tumbling)
    p.add_argument("--frame-sample-rate", type=float, default=500.0)  # ms, :87-91
    p.add_argument("--batch-size", type=int, default=1024)  # :52-55 (default 1 there; Arrow here)
    p.add_argument("--cloud", action="store_true")  # :39-44 → lifts the local frame cap
    p.add_argument("--master", default=None, help="spark master (runner selection analog)")
    p.add_argument("--train", type=float, default=0.7)
    p.add_argument("--val", type=float, default=0.15)
    p.add_argument("--test", type=float, default=0.15)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--log-level", default="WARN")
    return p.parse_args(argv)


def build_pipeline(spark: SparkSession, args: argparse.Namespace) -> dict[str, int]:
    """The composition root (reference build_pipeline, preprocess.py:371-416).
    Returns records-written per split."""
    from videos_to_tfrecords_spark.ml.inference import linear_stub_model
    from videos_to_tfrecords_spark.ml.video import decode_and_infer
    from videos_to_tfrecords_spark.operators.filenames import (
        create_filenames,
        extract_label,
    )
    from videos_to_tfrecords_spark.operators.sequence import (
        crop_video,
        format_features,
        single_frame,
        to_full_video,
    )
    from videos_to_tfrecords_spark.operators.shuffle import shuffle
    from videos_to_tfrecords_spark.operators.split import with_random_split
    from videos_to_tfrecords_spark.schema import CONTEXT_COLUMNS, LIST_COLUMNS
    from videos_to_tfrecords_spark.sources.tfrecord import (
        sequence_example_payloads,
        write_split_tfrecords,
    )

    with open(args.input_manifest) as fh:
        files = [line.strip() for line in fh if line.strip()]

    listed = create_filenames(spark, files)  # S2 + P2
    labeled = extract_label(listed)  # P3
    stamped = with_random_split(
        labeled, args.train, args.val, args.test, seed=args.seed
    )  # R1
    # U1 + U2 (+P4/P7/P8/R4) fused: frames never leave the Python worker
    embedded = decode_and_infer(
        stamped, linear_stub_model(12, 8), skip_msec=args.frame_sample_rate, cloud=args.cloud
    ).drop("height", "width", "channels")

    # mode dispatch — driver-side control flow, reference preprocess.py:399-406
    if args.mode == "crop_video":
        length_ms = F.lit(1000.0) * F.col("frame_total") / F.col("frame_per_sec")
        grouped = crop_video(
            embedded.withColumn("length_ms", length_ms),
            ts_ms_col="timestamp_ms",
            key_cols=["filename"],
            size_ms=args.sequence_length,
            slide_ms=args.period,
            length_ms_col="length_ms",
            partial_policy="reference",
        )
    elif args.mode == "full_video":
        grouped = to_full_video(embedded, ts_ms_col="timestamp_ms", key_cols=["filename"])
    else:
        grouped = single_frame(embedded, ts_ms_col="timestamp_ms", key_cols=["filename"])

    context_cols = ["filename", "label", "dataset", "frame_per_sec", "frame_total"]
    list_cols = ["logits", "timestamp_ms"]
    seqs = format_features(
        grouped,
        context_cols=["label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=list_cols,
    )
    # R2 shuffles the pruned sequences, then the sink's one Python pass
    # encodes each SequenceExample (U3) and writes every split's shards
    # (R3+S4): the encode runs on every shuffled partition, and no encoded
    # proto crosses an exchange.
    decorrelated = shuffle(seqs.select(*context_cols, *list_cols), seed=args.seed)
    return write_split_tfrecords(
        decorrelated,
        # serialize by DECLARED dtype (reference features.py:25-36), not
        # runtime inference — an int-valued FLOAT column stays FloatList
        sequence_example_payloads(context_cols, list_cols, CONTEXT_COLUMNS, LIST_COLUMNS),
        "dataset",
        args.output_dir,
    )


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict[str, int]:
    args = parse_arguments(argv)
    own_session = spark is None
    if own_session:
        from videos_to_tfrecords_spark.session import get_spark

        spark = get_spark("videos_to_tfrecords_cli", master=args.master)
    spark.sparkContext.setLogLevel(args.log_level)
    counts = build_pipeline(spark, args)
    print(f"wrote {sum(counts.values())} sequences: {counts}")
    return counts


if __name__ == "__main__":
    main(sys.argv[1:])
