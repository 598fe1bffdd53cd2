"""CLI entry point and the one composition root of the video chain —
parity with the reference's run_preprocess.py and build_pipeline
(preprocess.py:371-416).

Reference flag surface (run_preprocess.py:28-111): cloud, job_name/job_dir/
machine_type (Dataflow-only — here: --master), batch_size, output_dir,
input_dir, log_level, frame_sample_rate, mode, sequence_length, period.
Runner selection (run_preprocess.py:142: DataflowRunner vs DirectRunner)
maps to the Spark master URL.

The chain is built from the stage functions below, and only here:
manifest → extension filter (P2) + label extraction (P3) → split (R1) →
fused decode (U1) + batched inference (U2) → mode dispatch (crop_video |
full_video | single_frame, preprocess.py:399-406) + FormatFeatures (G5/G6)
→ shuffle (R2) → SequenceExample (U3) encoded inside the one-pass sharded
TFRecord write of every split (R3+S4, preprocess.py:389-416). The split is
the caller's one call: ``build_pipeline`` stamps ``with_random_split``;
the hash-checked ``video_inference_census``, ``video_sequence_census``,
``video_crop_census`` and ``video_pipeline_e2e`` queries stamp the
deterministic ``hash_bucket_split`` and compose the same stages (through
decode+infer, or through the sequences, which they encode with
``with_sequence_example``), so the oracle gate checks the chain the CLI
runs.

Usage:
    python -m videos_to_tfrecords_spark.cli \
        --input-manifest files.txt --output-dir /tmp/out \
        --mode crop_video --sequence-length 15000 --period 1000
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.ml.inference import ModelFactory, linear_stub_model
from videos_to_tfrecords_spark.ml.video import DEFAULT_SKIP_MSEC, decode_and_infer
from videos_to_tfrecords_spark.operators.filenames import extract_label, filter_extensions
from videos_to_tfrecords_spark.operators.sequence import (
    DEFAULT_SEQUENCE_LENGTH_MS,
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

#: a sequence's context and per-frame columns, in output order (their
#: declared kinds: schema.CONTEXT_COLUMNS / LIST_COLUMNS)
CONTEXT_COLS = ("filename", "label", "dataset", "frame_per_sec", "frame_total")
LIST_COLS = ("logits", "timestamp_ms")


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


def labeled_files(files: DataFrame) -> DataFrame:
    """P2 + P3: keep the video extensions, label = 3rd-from-last path
    segment (reference preprocess.py:268-274, 320-323)."""
    return extract_label(filter_extensions(files))


def decoded_logits(
    stamped: DataFrame,
    model_factory: ModelFactory,
    skip_msec: float = DEFAULT_SKIP_MSEC,
    cloud: bool = False,
) -> DataFrame:
    """U1 + U2 (+P4/P7/P8/R4) fused over split-stamped files: frames never
    leave the Python worker. One row per kept frame; the shape columns are
    dropped."""
    return decode_and_infer(
        stamped.select("filename", "label", "dataset"),
        model_factory,
        skip_msec=skip_msec,
        cloud=cloud,
    ).drop("height", "width", "channels")


def sequences(
    embedded: DataFrame,
    mode: str,
    sequence_length: int = DEFAULT_SEQUENCE_LENGTH_MS,
    period: int | None = None,
) -> DataFrame:
    """G1-G6: mode dispatch in plain Python control flow (reference
    preprocess.py:399-406), then FormatFeatures. One row per sequence,
    columns ``CONTEXT_COLS + LIST_COLS``."""
    if mode == "crop_video":
        length_ms = F.lit(1000.0) * F.col("frame_total") / F.col("frame_per_sec")  # :293
        grouped = crop_video(
            embedded.withColumn("length_ms", length_ms),
            ts_ms_col="timestamp_ms",
            key_cols=["filename"],
            size_ms=sequence_length,
            slide_ms=period,
            length_ms_col="length_ms",
            partial_policy="reference",
        )
    elif mode == "full_video":
        grouped = to_full_video(embedded, ts_ms_col="timestamp_ms", key_cols=["filename"])
    else:
        grouped = single_frame(embedded, ts_ms_col="timestamp_ms", key_cols=["filename"])
    seqs = format_features(grouped, context_cols=CONTEXT_COLS, list_cols=LIST_COLS)
    return seqs.select(*CONTEXT_COLS, *LIST_COLS)


def write_splits(seqs: DataFrame, output_dir: str, seed: int) -> dict[str, int]:
    """R2 + U3 + R3 + S4: shuffle the sequences, then the sink's one Python
    pass encodes each SequenceExample and writes every split's shards — no
    encoded proto crosses an exchange. Returns records written per split."""
    return write_split_tfrecords(
        shuffle(seqs, seed=seed),
        # serialize by DECLARED dtype (reference features.py:25-36), not
        # runtime inference — an int-valued FLOAT column stays FloatList
        sequence_example_payloads(CONTEXT_COLS, LIST_COLS, CONTEXT_COLUMNS, LIST_COLUMNS),
        "dataset",
        output_dir,
    )


def build_pipeline(spark: SparkSession, args: argparse.Namespace) -> dict[str, int]:
    """The composition root (reference build_pipeline, preprocess.py:371-416).
    Returns records-written per split."""
    with open(args.input_manifest) as fh:
        files = [line.strip() for line in fh if line.strip()]
    listed = spark.createDataFrame([(f,) for f in files], "filename string")  # S2
    stamped = with_random_split(
        labeled_files(listed), args.train, args.val, args.test, seed=args.seed
    )  # R1
    embedded = decoded_logits(
        stamped, linear_stub_model(12, 8), skip_msec=args.frame_sample_rate, cloud=args.cloud
    )
    seqs = sequences(embedded, args.mode, args.sequence_length, args.period)
    return write_splits(seqs, args.output_dir, args.seed)


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
